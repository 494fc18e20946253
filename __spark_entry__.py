"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` exposes one entry per implemented operator from SURVEY.md §2;
``oracle_sql()`` gives the DuckDB-equivalent SQL evaluated over the same
parquet tables. The esop-style relations (manifest_entries, manifests,
remote_objects, local_files, topology, commitlogs, snapshot_schemas) are
derived deterministically from the shared TPC-H parquet by
``esop_spark.sources.fixtures`` with SQL text valid in BOTH dialects, so the
two engines compute over identical inputs.
"""

from __future__ import annotations

import re
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from esop_spark.sources import fixtures as fx
from esop_spark.operators import (
    analytics,
    commitlog,
    dedup,
    diff,
    entities,
    fleet,
    graph,
    manifest,
    multimodal,
    privacy,
    retention,
    retrieval,
    sampling,
    similarity,
    snapshots,
    splits,
    versioning,
    text as text_ops,
    topology,
)
from esop_spark.plans import layout

# --- fixture parameters shared by Spark queries and oracle SQL --------------
RETENTION_CUTOFF_MS = 1600000000000 + 7000 * 3600000
CL_START_MS = 1704067200000 + 1000 * 60000
CL_END_MS = 1704067200000 + 5000 * 60000
ENTITY_EXPR = "ks0.t1,ks1.t3"
RENAME_PAIRS = [("ks0", "t1", "ks9", "t9")]
DIFF_BACKUP = "backup-1"
UPLOAD_BACKUP = "backup-2"


def _fixture(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    fx.register_fixture_views(spark, sf_dir, name)
    return spark.table(name)


# --- query implementations (Spark side) -------------------------------------

def q01_list_backups(spark: SparkSession, sf_dir: str) -> DataFrame:
    return manifest.list_backups(_fixture(spark, sf_dir, "manifest_entries"))


def q02_removable_entries(spark: SparkSession, sf_dir: str) -> DataFrame:
    return manifest.removable_entries(
        _fixture(spark, sf_dir, "manifest_entries"), DIFF_BACKUP
    )


def q03_upload_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    fx.register_fixture_views(spark, sf_dir, "manifest_entries", "remote_objects")
    return diff.upload_diff(
        spark.table("manifest_entries"), spark.table("remote_objects"), UPLOAD_BACKUP
    )


def q04_restore_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    fx.register_fixture_views(spark, sf_dir, "manifest_entries", "local_files")
    manifest_files = (
        spark.table("manifest_entries")
        .filter(F.col("backup_name") == DIFF_BACKUP)
        .select("object_key", "size", "hash")
    )
    return diff.restore_diff(manifest_files, spark.table("local_files"))


def q05_latest_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    return retention.latest_manifest_per_prefix(
        _fixture(spark, sf_dir, "manifests")
    ).select("backup_name", "snapshot", "schema_version", "ts")


def q06_retention_older_than(spark: SparkSession, sf_dir: str) -> DataFrame:
    return retention.retention_older_than(
        _fixture(spark, sf_dir, "manifests"), RETENTION_CUTOFF_MS
    )


def q07_commitlog_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    return commitlog.commitlog_window(
        _fixture(spark, sf_dir, "commitlogs"), CL_START_MS, CL_END_MS
    )


def q08_entity_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    filtered = entities.entity_filter(
        _fixture(spark, sf_dir, "manifest_entries"), ENTITY_EXPR
    )
    return filtered.groupBy("keyspace", "table_name").agg(
        F.count(F.lit(1)).cast("bigint").alias("files"),
        F.sum("size").cast("bigint").alias("size_bytes"),
    )


def q09_rename_remap(spark: SparkSession, sf_dir: str) -> DataFrame:
    remapped = entities.rename_remap(
        _fixture(spark, sf_dir, "manifest_entries"), RENAME_PAIRS
    )
    return remapped.groupBy("keyspace", "table_name").agg(
        F.count(F.lit(1)).cast("bigint").alias("files")
    )


def q10_topology_dc_racks(spark: SparkSession, sf_dir: str) -> DataFrame:
    return topology.dc_rack_counts(
        _fixture(spark, sf_dir, "topology"), ["ASIA", "EUROPE"]
    )


def q11_snapshot_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _fixture(spark, sf_dir, "manifest_entries")
    return snapshots.snapshot_merge(
        e.filter(F.col("backup_name") == "backup-0"),
        e.filter(F.col("backup_name") == "backup-1"),
    )


def q12_schema_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = _fixture(spark, sf_dir, "snapshot_schemas")
    return snapshots.schema_diff(
        s.filter(F.col("backup_name") == "backup-0"),
        s.filter(F.col("backup_name") == "backup-3"),
    )


# --- general analytics surface (Q13-Q20 on the TPC-H-ish tables) ------------
SHIP_START_S = 820454400   # 1996-01-01 UTC
SHIP_END_S = 852076800     # 1997-01-01 UTC


def _base(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    fx.load_base_tables(spark, sf_dir)
    return spark.table(name)


def q13_filter_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    return analytics.filter_project(
        _base(spark, sf_dir, "lineitem"), SHIP_START_S, SHIP_END_S
    )


def q14_join_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    fx.load_base_tables(spark, sf_dir)
    return analytics.join_agg(
        spark.table("orders"), spark.table("customer"), spark.table("nation")
    )


def q15_group_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    return analytics.group_agg(_base(spark, sf_dir, "lineitem"))


def q16_window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    return analytics.window_rank(_base(spark, sf_dir, "orders"), k=3)


def q17_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return analytics.rollup_agg(_base(spark, sf_dir, "lineitem"))


def q18_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return analytics.top_k(_base(spark, sf_dir, "customer"), k=10)


def q19_anti_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    fx.load_base_tables(spark, sf_dir)
    return analytics.anti_semi_counts(
        spark.table("customer"), spark.table("orders"), spark.table("nation")
    )


def q20_events_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    return analytics.tumbling_window_agg(_base(spark, sf_dir, "events"), width_s=3600)


# --- LLM-data-pipeline operators (dedup / similarity / text / multimodal) ---
JACCARD_TAU = 0.5
COSINE_TAU = 0.45
ANN_QUERY_IDS = list(range(10))
ANN_K = 5


def q21_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _base(spark, sf_dir, "documents")
    return dedup.dedup_exact(docs, text_ops.tokenset_key("text"))


def q22_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH with the cross-engine md5 hash family: the seeded
    signature/banding/verify pipeline is replicated verbatim in the DuckDB
    oracle (xxhash64 stays the production default family)."""
    return dedup.minhash_lsh_pairs(
        _base(spark, sf_dir, "documents"), threshold=JACCARD_TAU, hash_family="md5"
    )


def q23_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact corpus-wide Jaccard. This testdata corpus has NO hot shingles
    (max df = 25 at sf0.1), so the max_df cap is left off — the profiled
    cost is the pair-aggregation mass itself; the plan win is per-doc counts
    as a narrow `size(array_distinct(...))` projection (no counts shuffle).
    Real corpora with boilerplate should pass max_df (see
    dedup.ngram_jaccard_pairs)."""
    return dedup.ngram_jaccard_pairs(
        _base(spark, sf_dir, "documents"), n=3, threshold=JACCARD_TAU
    )


def q24_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash (32-bit, md5 family) — fully oracle-replicable; the
    production default stays 48-bit xxhash64."""
    return dedup.simhash_pairs(
        _base(spark, sf_dir, "documents"), num_bits=32, chunks=4, hash_family="md5"
    )


def q25_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.cosine_pairs(
        _base(spark, sf_dir, "embeddings"), threshold=COSINE_TAU
    )


def q26_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.ann_topk(
        _base(spark, sf_dir, "embeddings"), query_ids=ANN_QUERY_IDS, k=ANN_K
    )


def q27_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text_ops.lang_id(_base(spark, sf_dir, "documents"))


def q28_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text_ops.quality_score(_base(spark, sf_dir, "documents"))


def q29_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text_ops.token_stats(_base(spark, sf_dir, "documents"))


def q30_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text_ops.fingerprint(_base(spark, sf_dir, "documents"))


def q31_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = multimodal.media_from_documents(_base(spark, sf_dir, "documents"))
    return multimodal.decode_media(media, fake=True)


def q47_container_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-fake multimodal decode: documents → REAL BMP/WAV containers
    (mapInPandas encode) → header-parsing decode (mapInPandas). The oracle
    predicts every metadata column from the documents table alone, so any
    packing/parsing drift on either side breaks the hash match."""
    media = multimodal.encode_containers(_base(spark, sf_dir, "documents"))
    return multimodal.decode_containers(media)


def q32_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    return analytics.cube_agg(_base(spark, sf_dir, "lineitem"))


def q33_sliding_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    return analytics.sliding_window_agg(_base(spark, sf_dir, "events"))


def q34_storage_location(spark: SparkSession, sf_dir: str) -> DataFrame:
    from esop_spark.functions.scalars import storage_location_parts

    topo = _fixture(spark, sf_dir, "topology")
    loc = F.concat(
        F.lit("s3://bucket1/cluster1/"), F.col("dc"), F.lit("/"), F.col("hostname")
    )
    parsed = topo.select(storage_location_parts(loc).alias("p"))
    return parsed.select(
        F.col("p.protocol").alias("protocol"),
        F.col("p.bucket").alias("bucket"),
        F.col("p.cluster").alias("cluster"),
        F.col("p.dc").alias("dc"),
        F.col("p.node").alias("node"),
    )


def q35_import_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J9: restore entities joined to the live table catalog — rows for
    tables that no longer exist locally (t6) are dropped, and each surviving
    row carries the LOCAL table id (the enrichment id-rewrite, P14)."""
    fx.register_fixture_views(spark, sf_dir, "manifest_entries", "local_tables")
    ents = (
        spark.table("manifest_entries")
        .filter(F.col("backup_name") == "backup-0")
        .groupBy("keyspace", "table_name")
        .agg(F.count(F.lit(1)).cast("bigint").alias("files"))
    )
    return entities.import_join(ents, spark.table("local_tables")).select(
        "keyspace", "table_name", "files", "local_table_id", "path"
    )


def q36_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: for each purchase event, the latest error event of the
    same user at or before it (tagged-union + window — no range join)."""
    ev = _base(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id"
    )
    errors = ev.filter(F.col("event_type") == "error").select(
        "user_id", "ts", F.unix_millis("ts").alias("err_ms")
    )
    out = analytics.asof_join(
        purchases, errors, ["user_id"], "ts", "err_ms", "last_error_ms"
    )
    return out.select(
        "event_id",
        "user_id",
        F.unix_millis("ts").alias("ts_ms"),
        F.col("last_error_ms").cast("bigint").alias("last_error_ms"),
    )


def q37_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    return analytics.sessionize(_base(spark, sf_dir, "events"), gap_s=1800)


def q38_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    return analytics.percentiles(_base(spark, sf_dir, "orders"))


def q39_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text_ops.chunk_documents(
        _base(spark, sf_dir, "documents"), chunk_tokens=50, stride=40
    )


def q40_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text_ops.curate(_base(spark, sf_dir, "documents"), min_quality=55, lang="en")


def q41_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketized interval join: lineitem shipments falling inside 7-day
    windows opened by sampled orders (no cross product — equi-join on
    time buckets + residual filter)."""
    fx.load_base_tables(spark, sf_dir)
    ranges = (
        spark.table("orders")
        .filter(F.col("o_orderkey") % 100 == 0)
        .select(
            "o_orderkey",
            F.unix_timestamp("o_orderdate").alias("w_start"),
            (F.unix_timestamp("o_orderdate") + 7 * 86400).alias("w_end"),
        )
    )
    points = spark.table("lineitem").select(
        F.unix_timestamp("l_shipdate").alias("ship_s")
    )
    joined = analytics.range_join(
        ranges, points, "w_start", "w_end", "ship_s", bucket_width=7 * 86400
    )
    return joined.groupBy("o_orderkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("shipments_in_window")
    )


def q42_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    return analytics.grouping_sets_agg(_base(spark, sf_dir, "lineitem"))


def q43_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    return analytics.pivot_counts(_base(spark, sf_dir, "lineitem"))


def q44_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.6 set-op surface: nations with customers but no suppliers (EXCEPT)
    and nations with both (INTERSECT), tagged and unioned."""
    fx.load_base_tables(spark, sf_dir)
    cust_nations = spark.table("customer").select(
        F.col("c_nationkey").alias("nationkey")
    ).distinct()
    supp_nations = spark.table("supplier").select(
        F.col("s_nationkey").alias("nationkey")
    ).distinct()
    only_cust = cust_nations.exceptAll(supp_nations).withColumn(
        "tag", F.lit("customers_only")
    )
    both = cust_nations.intersect(supp_nations).withColumn("tag", F.lit("both"))
    return only_cust.unionByName(both).select(
        F.col("nationkey").cast("bigint").alias("nationkey"), "tag"
    )


# fleet fixture: backup-0 is older than the cutoff on every node; backup-1/2
# survive (backup_ts = 1600000000000 + idx*86400000 + node_jitter*1000)
FLEET_CUTOFF_MS = 1600000000000 + 86400000


def q45_global_listing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fleet-scoped listing: per-(dc, node, backup) report over the union of
    every node's manifest set (LocalFileRestorer.java:279-313 node
    resolution + per-node AllManifestsReport)."""
    return fleet.global_list_backups(
        _fixture(spark, sf_dir, "fleet_manifest_entries")
    )


def q46_global_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global removal dry-run: per-node victims under --older-than and the
    objects deletable because no surviving backup of any node references
    them (RemoveBackupOperation.java:100-190)."""
    return fleet.global_removal_report(
        _fixture(spark, sf_dir, "fleet_manifest_entries"),
        older_than_ms=FLEET_CUTOFF_MS,
    )


def q48_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate clusters: exact-Jaccard pairs folded into connected
    components (min-label propagation, dedup.dedup_clusters). The oracle
    replicates the closure with a recursive CTE over the same pair list."""
    pairs = dedup.ngram_jaccard_pairs(
        _base(spark, sf_dir, "documents"), n=3, threshold=JACCARD_TAU
    )
    return dedup.dedup_clusters(pairs)


def q49_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test decontamination signal: even doc_ids are the train corpus,
    odd the eval split; per eval doc, the fraction of its distinct 3-gram
    shingles contained anywhere in train (dedup.contamination)."""
    docs = _base(spark, sf_dir, "documents")
    return dedup.contamination(
        docs.filter(F.col("doc_id") % 2 == 0),
        docs.filter(F.col("doc_id") % 2 == 1),
        n=3,
    )


SAMPLE_RATES = {"en": 0.5, "de": 1.0, "fr": 0.25}
SAMPLE_DEFAULT = 0.1
SAMPLE_K = 5


def q50_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-rebalancing sample: per-stratum keep rates decided by a
    content hash of doc_id (sampling.stratified_sample) — reproducible
    across runs, partitionings and engines; zero shuffles."""
    docs = _base(spark, sf_dir, "documents")
    return sampling.stratified_sample(
        docs, "lang", SAMPLE_RATES, F.col("doc_id"), default_rate=SAMPLE_DEFAULT
    ).select("doc_id", "lang", "source")


def q51_sample_k_per_stratum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic k-per-language uniform sample (hash-ordered window
    top-k, sampling.sample_k_per_stratum)."""
    docs = _base(spark, sf_dir, "documents")
    return sampling.sample_k_per_stratum(
        docs, "lang", SAMPLE_K, F.col("doc_id")
    ).select("doc_id", "lang")


TFIDF_K = 5


def q52_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k characteristic terms per language by summed TF-IDF
    (text_ops.tfidf_top_terms): two uniform-key hash aggs + one window."""
    return text_ops.tfidf_top_terms(
        _base(spark, sf_dir, "documents"), group_col="lang", k=TFIDF_K
    )


def q53_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization of the embedding column with per-vector
    reconstruction MSE (similarity.quantize_int8) — a zero-shuffle narrow
    projection (the 4×-smaller-index scale path for ANN)."""
    return similarity.quantize_int8(_base(spark, sf_dir, "embeddings"))


def _pii_injected(docs: DataFrame) -> DataFrame:
    """Deterministically splice synthetic PII into the corpus (the shared
    parquet contains none) so q54 exercises nonzero match paths; the oracle
    builds the identical derived text in SQL."""
    did = F.col("doc_id")
    suffix = (
        F.when(
            did % 7 == 0,
            F.concat(
                F.lit(" contact user"), did.cast("string"), F.lit("@example.com now")
            ),
        )
        .when(
            did % 11 == 0,
            F.concat(
                F.lit(" node 10.0."), (did % 256).cast("string"), F.lit(".25 up")
            ),
        )
        .when(
            did % 13 == 0,
            F.concat(F.lit(" ref 99"), (did * 7919).cast("string")),
        )
        .otherwise(F.lit(""))
    )
    return docs.withColumn("text", F.concat(F.col("text"), suffix))


def q54_pii_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection/redaction over the corpus (text_ops.pii_scan): email /
    IPv4 / long-digit-run counts + redacted-text hash, all JVM regexp —
    a zero-shuffle narrow projection."""
    return text_ops.pii_scan(_pii_injected(_base(spark, sf_dir, "documents")))


def q55_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document boilerplate fraction from corpus-wide segment document
    frequency (text_ops.boilerplate_stats) — CCNet-style paragraph-dedup
    signal; two uniform-key shuffles."""
    return text_ops.boilerplate_stats(
        _base(spark, sf_dir, "documents"), chunk_tokens=10, min_df=3
    )


SEMDEDUP_PLANES = 12


def q56_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space dedup: deterministic ±1-hyperplane sign bucket, keep
    min-id per bucket (similarity.semantic_dedup). Narrow projection + one
    hash agg on the bucket key."""
    return similarity.semantic_dedup(
        _base(spark, sf_dir, "embeddings"), num_planes=SEMDEDUP_PLANES, dim=64
    )


MIX_WEIGHTS_PPM = {"de": 250000, "en": 300000, "es": 250000, "fr": 200000}


def q57_mixture_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-mixture language re-weighting (sampling.mixture_resample):
    all-integer keep-count math + hash-ordered per-stratum rank; 'zh' has
    no weight and is dropped entirely."""
    return sampling.mixture_resample(
        _base(spark, sf_dir, "documents"),
        "lang",
        MIX_WEIGHTS_PPM,
        F.col("doc_id"),
    ).select("doc_id", "lang", "source")


NGRAM_SPAN_N = 8
NGRAM_SPAN_K = 20


def q58_repeated_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top duplicated 8-gram spans corpus-wide (text_ops.repeated_ngrams) —
    the bounded-n distributed form of substring-level dedup."""
    return text_ops.repeated_ngrams(
        _base(spark, sf_dir, "documents"), n=NGRAM_SPAN_N, k=NGRAM_SPAN_K
    )


BM25_TERMS = ("spark", "hash", "window")
BM25_K = 15


def q59_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 keyword top-k over the corpus (text_ops.bm25_topk): term filter
    pushed into the scan stage, 1-row corpus-stats broadcast."""
    return text_ops.bm25_topk(
        _base(spark, sf_dir, "documents"), BM25_TERMS, k=BM25_K
    )


VOCAB_K = 30


def q60_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document OOV rate vs the corpus top-30 vocabulary
    (text_ops.oov_rate): vocab is a k-row broadcast, corpus never shuffles."""
    return text_ops.oov_rate(_base(spark, sf_dir, "documents"), vocab_k=VOCAB_K)


def q61_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean per-token negative log-prob under the corpus unigram LM
    (text_ops.unigram_logprob) — the LM-perplexity quality-filter proxy."""
    return text_ops.unigram_logprob(_base(spark, sf_dir, "documents"))


GATE_MIN_QUALITY = 66
GATE_MAX_BOILER = 0.1


def q62_release_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full curation waterfall with per-source drop attribution
    (text_ops.release_gate): quality → language → boilerplate → dedup,
    each doc attributed to the first gate it fails."""
    return text_ops.release_gate(
        _base(spark, sf_dir, "documents"),
        min_quality=GATE_MIN_QUALITY,
        lang="en",
        max_boiler_frac=GATE_MAX_BOILER,
    )


def q63_embedding_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension embedding moments (similarity.embedding_dim_stats):
    the quantizer/normalizer calibration pass — mergeable statistics, one
    tiny-key agg."""
    return similarity.embedding_dim_stats(_base(spark, sf_dir, "embeddings"))


CONTAINMENT_TAU = 0.6
SPLIT_FRACTIONS = {"train": 0.8, "val": 0.1, "test": 0.1}
SHARD_BUDGET = 2048
KCENTER_K = 8
BIGRAM_ADD_K = 0.5


def q64_train_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment keyed on content hash
    (splits.split_report): per (split, lang) doc/token mass and stratum
    share — the eval-set stability contract for a growing corpus."""
    docs = _base(spark, sf_dir, "documents")
    return splits.split_report(
        docs,
        key=F.col("doc_id"),
        fractions=SPLIT_FRACTIONS,
        token_col=F.size(F.split(F.col("text"), " ")),
        strata_col="lang",
    )


def q65_shard_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk pretraining shard layout (splits.shard_report):
    distributed prefix sum of token counts, cut every SHARD_BUDGET tokens —
    no single-task global window."""
    docs = _base(spark, sf_dir, "documents").select(
        "doc_id", F.size(F.split(F.col("text"), " ")).cast("bigint").alias("n_tokens")
    )
    return splits.shard_report(docs, "doc_id", "n_tokens", SHARD_BUDGET)


def q66_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document mean NLL under the add-k-smoothed corpus bigram LM
    (text_ops.bigram_logprob) — the KenLM-perplexity-filter stand-in."""
    return text_ops.bigram_logprob(
        _base(spark, sf_dir, "documents"), add_k=BIGRAM_ADD_K
    )


def q67_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style structural quality rules per source
    (text_ops.gopher_rules): per-rule fail counts + pass-all count, pure
    scan-shaped job."""
    return text_ops.gopher_rules(_base(spark, sf_dir, "documents"))


def q68_kcenter_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-balance report over embeddings (similarity.kcenter_assign):
    nearest-of-k deterministic centers, per-center mass and cohesion."""
    return similarity.kcenter_assign(
        _base(spark, sf_dir, "embeddings"), k=KCENTER_K
    )


def q69_containment_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment near-dups — short-doc-inside-long-doc, the asymmetric
    case Jaccard misses (dedup.containment_pairs): asymmetric bottom-k
    probe candidates (collision prob tracks containment, 45× fewer
    candidates than 1-row MinHash bands), exact containment verify. The
    oracle enumerates a candidate SUPERSET (full 1-row-band LSH); outputs
    agree because both end at the same exact-verified pair set."""
    return dedup.containment_pairs(
        _base(spark, sf_dir, "documents"),
        threshold=CONTAINMENT_TAU,
        hash_family="md5",
    )


def q70_bpe_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish piece counts + fertility vs whitespace words
    (text_ops.bpe_token_stats): regexp scan projection, zero shuffles."""
    return text_ops.bpe_token_stats(_base(spark, sf_dir, "documents"))


Z_THRESH = 3.0


def _documents_v2(docs: DataFrame) -> DataFrame:
    """Deterministic second corpus snapshot for the versioning diff: drop
    doc_id%7==0, append ' v2' to text of doc_id%5==0 survivors, add new
    docs (doc_id+1000000) for doc_id%11==0. Same derivation inlined in the
    q71 oracle SQL so both engines diff identical snapshots."""
    kept = docs.filter(F.col("doc_id") % 7 != 0).select(
        "doc_id",
        F.when(F.col("doc_id") % 5 == 0, F.concat(F.col("text"), F.lit(" v2")))
        .otherwise(F.col("text"))
        .alias("text"),
    )
    new = docs.filter(F.col("doc_id") % 11 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" new")).alias("text"),
    )
    return kept.unionAll(new)


def q71_corpus_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus snapshot diff (versioning.diff_report): added/removed/changed/
    unchanged via one hash-compare full-outer join — the incremental-
    curation bookkeeping, same plan shape as the q04 restore diff."""
    docs = _base(spark, sf_dir, "documents")
    return versioning.diff_report(docs, _documents_v2(docs))


def q72_quality_cdf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-score histogram + cumulative fraction (text_ops.quality_cdf):
    the threshold-picking curve; cumulative window runs over ≤101 integer
    scores, never over documents."""
    return text_ops.quality_cdf(_base(spark, sf_dir, "documents"))


def q73_embedding_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector max |z| vs per-dim corpus moments
    (similarity.embedding_outliers): embedding-space data-quality gate,
    dim-key broadcast join, no corpus shuffle."""
    return similarity.embedding_outliers(
        _base(spark, sf_dir, "embeddings"), z_thresh=Z_THRESH
    )


def q74_dup_span_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc duplicated-content fraction via exact union-of-intervals
    over corpus-hot n-gram spans (text_ops.dup_span_coverage) — the
    document-level score a span-dedup gate thresholds on."""
    return text_ops.dup_span_coverage(
        _base(spark, sf_dir, "documents"), n=NGRAM_SPAN_N
    )


def q75_temperature_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature (alpha=0.5) mixture flattening per language
    (sampling.temperature_resample): isqrt-exact weights feed the
    all-integer exact-mixture machinery; report per-stratum keep rates."""
    docs = _base(spark, sf_dir, "documents")
    return sampling.temperature_resample(docs, "lang", F.col("doc_id"))


SOURCE_CAP_K = 10


def q76_source_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain quota report: cap every source at K docs, chosen by the
    deterministic hash order (sampling.sample_k_per_stratum — the
    distributed range-partitioned ranking, no per-source single-task
    window). The per-domain cap is the curation step that stops one crawl
    domain from dominating a mix."""
    docs = _base(spark, sf_dir, "documents")
    kept = sampling.sample_k_per_stratum(docs, "source", SOURCE_CAP_K, F.col("doc_id"))
    before = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_before")
    )
    after = kept.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_kept")
    )
    return before.join(after, "source").select("source", "n_before", "n_kept")


def q77_slice_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-distribution KL of each source vs the corpus
    (text_ops.slice_divergence): the data-mix drift diagnostic."""
    docs = _base(spark, sf_dir, "documents")
    return text_ops.slice_divergence(docs, "source")


def q78_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing (MOSS) fingerprint sketch per document
    (dedup.winnow_fingerprints, md5 family for the oracle): guaranteed
    detection of shared substrings ≥ w+k-1 tokens."""
    docs = _base(spark, sf_dir, "documents")
    return dedup.winnow_fingerprints(docs, hash_family="md5")


def q79_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-weighted sampling (sampling.score_weighted_sample): keep
    probability = quality_score/100 per doc, content-hash decided — soft
    quality filtering in one zero-shuffle projection (the score column
    builder fuses into the same scan)."""
    docs = _base(spark, sf_dir, "documents")
    kept = sampling.score_weighted_sample(
        docs, text_ops.quality_score_col("text"), F.col("doc_id")
    )
    return kept.select(
        "doc_id", "lang", text_ops.quality_score_col("text").alias("quality_score")
    )


CHUNK_DEDUP_TOKENS = 20
EVAL_SOURCES = ("src0", "src1", "src2")
DSIR_BUCKETS = 8192
SEARCH_TERMS = ("spark", "window", "join")


def q80_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-level (paragraph-analog) exact span dedup, C4/Dolma style
    (text_ops.chunk_dedup_stats): per-doc duplicated-chunk fraction and
    how many chunks a keep-first-occurrence pass would strip."""
    return text_ops.chunk_dedup_stats(
        _base(spark, sf_dir, "documents"), chunk_tokens=CHUNK_DEDUP_TOKENS
    )


def q81_bloom_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination of the train split against a benchmark slice with a
    broadcast bloom prefilter ahead of the exact shingle semi-join
    (dedup.bloom_contamination). The bloom changes the plan (corpus
    shingles die in the scan stage), never the answer — the oracle is the
    plain exact semi-join."""
    docs = _base(spark, sf_dir, "documents")
    test = docs.filter(F.col("source").isin(*EVAL_SOURCES))
    train = docs.filter(~F.col("source").isin(*EVAL_SOURCES))
    return dedup.bloom_contamination(train, test, n=3)


def q82_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style importance weights (text_ops.dsir_importance): hashed
    unigram log-likelihood ratio of the English slice vs the raw corpus,
    averaged per document — the importance-resampling score."""
    return text_ops.dsir_importance(
        _base(spark, sf_dir, "documents"),
        target_pred=F.col("lang") == "en",
        buckets=DSIR_BUCKETS,
        hash_family="md5",
    )


def q83_conjunctive_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean-AND retrieval over the inverted-index shape
    (text_ops.conjunctive_search): docs containing every query term, with
    total query-term frequency as the rank key."""
    return text_ops.conjunctive_search(
        _base(spark, sf_dir, "documents"), SEARCH_TERMS
    )


def q84_canonical_reps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware canonical selection per near-duplicate cluster
    (dedup.canonical_reps over dedup_clusters): highest quality_score
    wins, ties to smallest doc_id, via a packed max_by key — no window."""
    docs = _base(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(docs, n=3, threshold=JACCARD_TAU)
    clusters = dedup.dedup_clusters(pairs)
    scored = docs.select(
        "doc_id", text_ops.quality_score_col("text").alias("quality_score")
    )
    return dedup.canonical_reps(clusters, scored)


def q85_centroid_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding cluster-quality report (similarity.centroid_purity):
    per-label centroid assignment accuracy by 6dp-rounded cosine with
    smallest-label tiebreak."""
    return similarity.centroid_purity(_base(spark, sf_dir, "embeddings"))


ZIPF_TOP_V = 2000


def q86_slice_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source duplication matrix (dedup.slice_overlap): distinct-
    shingle containment between every source pair — the mirror-domain
    detector doc-pair dedup can't see."""
    return dedup.slice_overlap(_base(spark, sf_dir, "documents"), "source", n=3)


def q87_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc novelty (dedup.novelty_scores): fraction of a doc's distinct
    shingles first contributed by this doc under min-doc_id attribution."""
    return dedup.novelty_scores(_base(spark, sf_dir, "documents"), n=3)


def q88_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf slope/intercept of the corpus token distribution over the
    top-V terms (text_ops.zipf_fit) — distribution-health diagnostic."""
    return text_ops.zipf_fit(_base(spark, sf_dir, "documents"), top_v=ZIPF_TOP_V)


def q89_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental release dedup (dedup.incremental_minhash_pairs): the new
    half of the corpus (odd doc ids) LSH-deduped against the shipped half
    (even ids) — candidates restricted to cross-release pairs, exact-
    Jaccard verified, md5 family for the oracle."""
    docs = _base(spark, sf_dir, "documents")
    return dedup.incremental_minhash_pairs(
        docs,
        is_new=F.col("doc_id") % 2 == 1,
        threshold=JACCARD_TAU,
        hash_family="md5",
    )


CMS_TOP_K = 20
CMS_DEPTH = 4
CMS_WIDTH = 1024
PMI_TOP_K = 50
PMI_MIN_COUNT = 5
PSI_BINS = 10


def q90_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min-sketch term estimates vs exact counts for the top terms
    (text_ops.cms_term_counts) — the mergeable-sketch path for frequency
    queries too wide to aggregate exactly."""
    return text_ops.cms_term_counts(
        _base(spark, sf_dir, "documents"),
        query_top_k=CMS_TOP_K,
        depth=CMS_DEPTH,
        width=CMS_WIDTH,
    )


def q91_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-PMI adjacent-token collocations (text_ops.pmi_collocations) —
    tokenizer-merge candidates and template detection."""
    return text_ops.pmi_collocations(
        _base(spark, sf_dir, "documents"), top_k=PMI_TOP_K, min_count=PMI_MIN_COUNT
    )


def q92_score_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source PSI of the quality-score decile distribution vs the
    corpus (text_ops.score_drift_psi) — quality-drift monitor."""
    return text_ops.score_drift_psi(
        _base(spark, sf_dir, "documents"), "source", n_bins=PSI_BINS
    )


def q93_image_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual near-duplicate image pairs: real BMP containers →
    grayscale dHash (multimodal.image_dhash, Arrow-batched binary decode)
    → pigeonhole Hamming banding (multimodal.dhash_neardup_pairs). The
    binary pixel decode is genuinely non-SQL-expressible, so this entry
    has no oracle_sql (driver records the rows-only check); the codec and
    hash are pytest-verified instead."""
    media = multimodal.encode_containers(_base(spark, sf_dir, "documents"))
    hashes = multimodal.image_dhash(media)
    return multimodal.dhash_neardup_pairs(hashes, max_hamming=4)


PHRASE = ("fast", "table")


def q94_corpus_datasheet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language + ALL corpus report card (text_ops.corpus_datasheet):
    volume, token mass, source diversity, exact-dup excess, quality
    quartiles — two lang-grain rollups joined, no per-group lists."""
    return text_ops.corpus_datasheet(_base(spark, sf_dir, "documents"))


def q95_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact positional phrase retrieval (text_ops.phrase_search):
    offset-aligned position intersection over query-term postings."""
    return text_ops.phrase_search(_base(spark, sf_dir, "documents"), PHRASE)


def q96_embedding_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upper-triangle dimension covariance matrix
    (similarity.embedding_covariance) — the mergeable-moments input to
    PCA/whitening (similarity.pca_top_component consumes it driver-side)."""
    return similarity.embedding_covariance(_base(spark, sf_dir, "embeddings"))


FUNNEL_STAGES = ("signup", "view", "click", "purchase")
PAD_CONTEXT = 128
ESS_ALPHA = 0.5


def q97_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel over the event stream
    (analytics.funnel): stage k+1 counts only strictly after stage k,
    folded per user JVM-side in one shuffle."""
    return analytics.funnel(_base(spark, sf_dir, "events"), FUNNEL_STAGES)


def q98_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention (analytics.cohort_retention): users grouped
    by first-activity epoch day, activity in 7-day offsets."""
    return analytics.cohort_retention(_base(spark, sf_dir, "events"))


def q99_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix of event types
    (analytics.event_transitions) — per-user lead window, type-pair agg."""
    return analytics.event_transitions(_base(spark, sf_dir, "events"))


def q100_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document character entropy (text_ops.char_entropy) — shuffle-
    free gibberish/repetition quality signal."""
    return text_ops.char_entropy(_base(spark, sf_dir, "documents"))


def q101_padding_waste(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-length bucketing report (text_ops.padding_waste): pow-2
    buckets capped at the context length, padded-slot waste + truncation
    loss per bucket."""
    return text_ops.padding_waste(
        _base(spark, sf_dir, "documents"), context_len=PAD_CONTEXT
    )


def q102_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID confusion matrix vs the labeled lang column
    (text_ops.langid_confusion)."""
    return text_ops.langid_confusion(_base(spark, sf_dir, "documents"))


def q103_mixture_ess(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-mixture effective-sample-size report
    (sampling.mixture_ess): per-source shares, importance weights, corpus
    ESS under temperature alpha=0.5."""
    return sampling.mixture_ess(
        _base(spark, sf_dir, "documents"), alpha=ESS_ALPHA
    )


def q104_lsh_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured precision/recall of the production LSH banding vs fully
    exact Jaccard ground truth on a capped content-hash sample
    (dedup.lsh_recall_audit, md5 family for the oracle). The absolute
    doc cap keeps the quadratic audit O(cap²) at any corpus size."""
    return dedup.lsh_recall_audit(
        _base(spark, sf_dir, "documents"),
        sample_rate=AUDIT_RATE,
        threshold=JACCARD_TAU,
        hash_family="md5",
        max_docs=AUDIT_MAX_DOCS,
    )


BPE_TOP_K = 20


def q105_bpe_merge_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First BPE tokenizer-training step (text_ops.bpe_merge_candidates):
    top merge candidates by weighted adjacent-symbol pair count, all on
    vocabulary grain."""
    return text_ops.bpe_merge_candidates(
        _base(spark, sf_dir, "documents"), top_k=BPE_TOP_K
    )


def q106_score_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROC-AUC of the quality score against the lang label
    (text_ops.score_auc) — histogram-grain Mann-Whitney with midranks."""
    return text_ops.score_auc(_base(spark, sf_dir, "documents"))


SESSION_GAP_S = 1800


def q107_funnel_in_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-session funnel (analytics.funnel_in_session): all stages must
    complete inside one gap-based session; counts are sessions."""
    return analytics.funnel_in_session(
        _base(spark, sf_dir, "events"), FUNNEL_STAGES, gap_s=SESSION_GAP_S
    )


def q108_cluster_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Size-bucketed near-dup cluster histogram with removable-doc mass
    (dedup.cluster_size_histogram over dedup_clusters)."""
    pairs = dedup.ngram_jaccard_pairs(
        _base(spark, sf_dir, "documents"), n=3, threshold=JACCARD_TAU
    )
    return dedup.cluster_size_histogram(dedup.dedup_clusters(pairs))


def q109_incremental_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental statistics maintenance (analytics.mergeable_stats /
    merge_stats / finalize_stats): per-source n_chars stats computed as two
    independent halves (shipped corpus = even doc ids, delta = odd) and
    MERGED — the oracle recomputes from scratch, proving merge == rescan."""
    docs = _base(spark, sf_dir, "documents")
    old = analytics.mergeable_stats(
        docs.filter(F.col("doc_id") % 2 == 0), "source", "n_chars"
    )
    delta = analytics.mergeable_stats(
        docs.filter(F.col("doc_id") % 2 == 1), "source", "n_chars"
    )
    return analytics.finalize_stats(analytics.merge_stats(old, delta))


PMC_EPS = 100.0


def q110_pmc_compression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Error-bounded piecewise-constant compression census over the event
    value streams (analytics.pmc_segments, ModelarDB-style PMC-MR greedy;
    oracle = per-user sequential recursion in a recursive CTE)."""
    return analytics.pmc_segments(_base(spark, sf_dir, "events"), eps=PMC_EPS)


ANOMALY_Z = 2.0


def q111_window_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volume-anomaly windows (analytics.window_anomalies): hourly counts
    per event type z-scored against the type's own window distribution."""
    return analytics.window_anomalies(
        _base(spark, sf_dir, "events"), width_s=3600, z_tau=ANOMALY_Z
    )


def q112_heaps_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law growth fit over per-source (token mass, vocabulary)
    points (text_ops.heaps_fit) — vocabulary-growth health diagnostic."""
    return text_ops.heaps_fit(_base(spark, sf_dir, "documents"))


COOC_TOP_K = 15


def q113_interevent_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-event latency percentiles per event type
    (analytics.interevent_gaps): per-user lag window, exact interpolated
    percentiles on the |types| grain."""
    return analytics.interevent_gaps(_base(spark, sf_dir, "events"))


def q114_session_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket support of event-type pairs within gap-based sessions
    (analytics.session_cooccurrence)."""
    return analytics.session_cooccurrence(
        _base(spark, sf_dir, "events"), gap_s=SESSION_GAP_S, top_k=COOC_TOP_K
    )


HARD_NEG_TAU = 0.95


def q115_distinct_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-1/distinct-2 diversity per source
    (text_ops.distinct_ngram_diversity) — template/degeneration signal."""
    return text_ops.distinct_ngram_diversity(_base(spark, sf_dir, "documents"))


def q116_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining (similarity.hard_negatives): per query the
    top-k most-similar neighbors below the near-duplicate cosine band."""
    return similarity.hard_negatives(
        _base(spark, sf_dir, "embeddings"),
        ANN_QUERY_IDS,
        k=ANN_K,
        dup_tau=HARD_NEG_TAU,
    )


def q117_quality_length_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson r of quality score vs token count per source
    (text_ops.quality_length_correlation) — gate-confound check, exact
    integer co-moments."""
    return text_ops.quality_length_correlation(
        _base(spark, sf_dir, "documents")
    )


def q118_length_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of the token-mass distribution
    (text_ops.length_gini) — exact, from the length histogram grain."""
    return text_ops.length_gini(_base(spark, sf_dir, "documents"))


def q119_fuzzy_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked edit-distance record linkage on document titles
    (dedup.fuzzy_title_pairs): candidates from (lang, first-token) blocks
    with a hot-block star-pairing cap, then levenshtein <= max_distance."""
    return dedup.fuzzy_title_pairs(
        _base(spark, sf_dir, "documents"),
        title_tokens=4,
        max_distance=6,
        max_block=200,
    )


def q120_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-context causal-LM sequence packing with straddler splitting
    (splits.sequence_report): documents laid end-to-end in doc_id order,
    cut every 128 tokens; per-sequence segment/head/carry-in/fill report."""
    docs = _base(spark, sf_dir, "documents").select(
        "doc_id", F.size(F.split("text", " ")).cast("bigint").alias("n_tokens")
    )
    return splits.sequence_report(docs, "doc_id", "n_tokens", ctx=128)


def q121_dedup_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-chunk removal rewrite (text_ops.chunk_dedup_rewrite):
    global first-occurrence wins at 8-token chunk grain; per-doc before/
    after token counts and the md5 witness of the rebuilt text."""
    return text_ops.chunk_dedup_rewrite(
        _base(spark, sf_dir, "documents"), chunk_tokens=8
    )


def q122_matryoshka_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka truncation fidelity (similarity.matryoshka_eval):
    Pearson corr + MAE of prefix-dim cosine vs full cosine over the
    adjacent-id pair sample, exact integer moment sums."""
    return similarity.matryoshka_eval(
        _base(spark, sf_dir, "embeddings"), dims=(8, 16, 32, 64)
    )


def q123_quantized_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 retrieval fidelity (similarity.quantized_ann_recall):
    recall@k of top-k over int8-reconstructed vectors vs full precision."""
    return similarity.quantized_ann_recall(
        _base(spark, sf_dir, "embeddings"), query_ids=ANN_QUERY_IDS, k=ANN_K
    )


def q124_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train→test n-gram leakage audit over the shipped hash splits
    (splits.split_leakage): per stratum, the fraction of test docs and of
    distinct test 5-gram shingles that also appear in the train slice."""
    return splits.split_leakage(
        _base(spark, sf_dir, "documents"), SPLIT_FRACTIONS, n=5
    )


def q125_hybrid_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid BM25+cosine retrieval with reciprocal-rank fusion
    (retrieval.hybrid_retrieval): per query doc, the RRF-fused top-10 of
    the keyword leg (first-6-distinct-token query) and the vector leg."""
    return retrieval.hybrid_retrieval(
        _base(spark, sf_dir, "documents"),
        _base(spark, sf_dir, "embeddings"),
        ANN_QUERY_IDS,
        k=10,
    )


def q126_anneal_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Phase-wise mixture annealing plan (sampling.anneal_schedule): per
    (phase, stratum) sampling weight interpolating natural token share →
    share^0.25, dyadic alphas so share^alpha is nested-sqrt exact."""
    return sampling.anneal_schedule(
        _base(spark, sf_dir, "documents"), phases=4, phase_budget_tokens=100_000
    )


def q127_knn_label_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN label-noise audit on a capped content-hash sample
    (similarity.knn_label_audit): majority label of the 5 nearest cosine
    neighbors vs own label, agreement rate per label. The 50-query
    absolute cap keeps the audit linear in corpus size."""
    return similarity.knn_label_audit(
        _base(spark, sf_dir, "embeddings"),
        k=5,
        sample_rate=0.1,
        seed="knn0",
        max_queries=50,
    )


def q128_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage curve (text_ops.vocab_coverage): corpus token
    mass covered by the top-{5,10,20} most frequent tokens — the tokenizer
    vocab-sizing signal; cumulative window on the bounded head. (The
    synthetic corpus has a 31-token vocabulary, so these cutoffs trace a
    real curve; production cutoffs would be 1e3–1e5.)"""
    return text_ops.vocab_coverage(
        _base(spark, sf_dir, "documents"), cutoffs=(5, 10, 20)
    )


def q129_dedup_inflation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source exact-duplicate inflation (dedup.dedup_inflation): doc
    and token multiplicity vs the deduplicated corpus — the effective-
    dataset-size planning report for a dedup pass."""
    return dedup.dedup_inflation(_base(spark, sf_dir, "documents"))


def q130_filter_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-fail waterfall over the Gopher rule battery
    (text_ops.filter_funnel): kill count per funnel stage in fixed rule
    order and the surviving corpus after each stage — the which-rule-to-
    tune attribution report (q67 reports overlapping totals instead)."""
    return text_ops.filter_funnel(_base(spark, sf_dir, "documents"))


def q131_subsample_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic subsampling error bar (sampling.subsample_ci): 32
    content-hash half-samples per stratum, replicate-mean spread around the
    exact full mean token count — the RNG-free bootstrap stand-in."""
    return sampling.subsample_ci(
        _base(spark, sf_dir, "documents"), replicates=32, rate=0.5
    )


def q132_dau_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU/WAU stickiness per epoch day (analytics.dau_wau_stickiness):
    trailing-7-day distinct actives via the bounded covering explode — no
    day-range join, no per-day window."""
    return analytics.dau_wau_stickiness(_base(spark, sf_dir, "events"))


def q133_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured JSON probe (analytics.json_props_rollup): extract
    props.k inside the scan projection and roll up per event type."""
    return analytics.json_props_rollup(_base(spark, sf_dir, "events"))


def q134_extremes_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tail-document dashboard (text_ops.extremes_report): top-3 docs per
    diagnostic metric (longest, most repetitive, lowest quality) via
    per-metric TakeOrderedAndProject legs."""
    return text_ops.extremes_report(_base(spark, sf_dir, "documents"), k=3)


def q135_integrity_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Doc↔embedding key-integrity audit (versioning.referential_integrity):
    orphans and duplicate keys on both sides of the doc_id/vec_id join —
    the trust gate before any text⋈vector operator."""
    return versioning.referential_integrity(
        _base(spark, sf_dir, "documents"),
        _base(spark, sf_dir, "embeddings"),
        "doc_id",
        "vec_id",
    )


def q136_minhash_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash estimator calibration (dedup.minhash_calibration): signature
    estimate vs exact Jaccard over every overlapping pair of the capped
    audit sample — does num_hashes=32 resolve the similarity range the
    banding (q104) depends on."""
    return dedup.minhash_calibration(
        _base(spark, sf_dir, "documents"),
        sample_rate=AUDIT_RATE,
        max_docs=AUDIT_MAX_DOCS,
        hash_family="md5",
    )


TEMPORAL_CUTOFF_MS = 1705708800000  # 2024-01-20T00:00Z
TEMPORAL_EMBARGO_MS = 2 * 86400000  # 2-day leakage buffer


def q137_temporal_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal train/embargo/test split of the event stream
    (splits.temporal_split): cutoff + 2-day embargo buffer, per
    (split, type) counts and time ranges — the leakage-free eval protocol
    for temporal data."""
    return splits.temporal_split(
        _base(spark, sf_dir, "events"),
        cutoff_ms=TEMPORAL_CUTOFF_MS,
        embargo_ms=TEMPORAL_EMBARGO_MS,
    )


def q138_group_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-aware (per-user) split report (splits.group_split_report):
    membership hashes the user key so every row of a user lands in one
    split — the user-level leakage guard."""
    return splits.group_split_report(
        _base(spark, sf_dir, "events"), SPLIT_FRACTIONS
    )


def q139_release_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-release manifest (versioning.release_manifest, md5 family):
    per-partition doc/token counts and the order-independent bit-XOR
    content digest — the verifiable what-shipped record the release
    writer (versioning.write_release) persists."""
    return versioning.release_manifest(
        _base(spark, sf_dir, "documents"), "lang", hash_family="md5"
    )


def q140_uncertainty_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uncertainty sampling for labeling (sampling.uncertainty_sample):
    per language, the 5 docs with quality score closest to the keep/drop
    threshold, ranked through the distributed stratum-rank construction
    (no per-stratum single-task window)."""
    return sampling.uncertainty_sample(
        _base(spark, sf_dir, "documents"), threshold=50, k=5
    )


def q141_embed_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic content-hash document embedder
    (similarity.embed_documents): per-doc 8-dim vector + norm — the
    engine-side embeddings-provenance seam (a real encoder plugs in via
    the multimodal mapInPandas pattern), cross-engine reproducible."""
    return similarity.embed_documents(_base(spark, sf_dir, "documents"), dim=8)


CURRICULUM_STAGES = 4
NB_VOCAB_HASH = 4096
TOPIC_PLANES = 6
TOPIC_TOP_BUCKETS = 8
WATERFILL_NUM, WATERFILL_DEN = 2, 5
# Three sources demand 10x their uniform share, so the water line saturates
# them (they get their whole capacity) and the surplus spreads over the rest.
WATERFILL_WEIGHTS = {"src0": 10_000_000, "src1": 10_000_000, "src2": 10_000_000}
HISTQ_BINS = 128


def q142_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic curriculum training order (splits.curriculum_order):
    quality-quartile stages from the bounded score grain, within-stage
    content-hash layout ranked by the distributed stratum-rank construction
    (no per-stage single-task window)."""
    return splits.curriculum_order(
        _base(spark, sf_dir, "documents"), stages=CURRICULUM_STAGES
    )


def q143_nb_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashed-unigram Naive Bayes language classifier trained on a
    content-hash 80% split, scored on the holdout with integer-scaled
    log-probabilities (text_ops.nb_confusion): the fastText-style curation
    classifier as one lazy plan; output is the test confusion matrix."""
    return text_ops.nb_confusion(
        _base(spark, sf_dir, "documents"), vocab_hash=NB_VOCAB_HASH
    )


def q144_cluster_topics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Topic labels for embedding clusters (similarity.cluster_topic_terms):
    hyperplane sign buckets -> top-8 clusters by size -> top-3 TF-IDF terms
    from member documents, joined cross-modally on vec_id = doc_id."""
    return similarity.cluster_topic_terms(
        _base(spark, sf_dir, "documents"),
        _base(spark, sf_dir, "embeddings"),
        num_planes=TOPIC_PLANES,
        top_buckets=TOPIC_TOP_BUCKETS,
        k=3,
    )


def q145_token_waterfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact integer water-filling of a 40% token budget across sources
    (sampling.token_budget_waterfill): small sources saturate, the surplus
    spreads by weight — all windows on the |sources| grain."""
    return sampling.token_budget_waterfill(
        _base(spark, sf_dir, "documents"),
        budget_num=WATERFILL_NUM,
        budget_den=WATERFILL_DEN,
        weights_ppm=WATERFILL_WEIGHTS,
    )


def q146_hot_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-skew advisor over the events user_id key (analytics.hot_keys):
    top-10 hottest keys with exact ppm share and skew multiple — the
    pre-shuffle probe for salting/AQE decisions."""
    return analytics.hot_keys(_base(spark, sf_dir, "events"), "user_id")


def q147_histogram_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable equi-width-histogram quantiles of document token length
    (analytics.histogram_quantiles): p50/p90/p99 with a one-bin error
    bound, all-integer binning — the sortless 100 TB percentile."""
    return analytics.histogram_quantiles(
        _base(spark, sf_dir, "documents"),
        F.size(F.split(F.col("text"), " ")),
        bins=HISTQ_BINS,
    )


BURST_WINDOW_MS = 86_400_000  # sliding day — the synthetic stream is sparse
BURST_THRESHOLD = 9
CURVE_THRESHOLDS = (50, 60, 70, 80, 90)


def q148_burst_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bot-rate probe (analytics.burst_detection): exact per-user peak
    events in any sliding day via a RANGE-frame window (value-defined
    frames — tie-order-free), plus sustained rate; user-grain output."""
    return analytics.burst_detection(
        _base(spark, sf_dir, "events"),
        window_ms=BURST_WINDOW_MS,
        burst_threshold=BURST_THRESHOLD,
    )


def q149_prototypicality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prototypicality deciles per label (similarity.prototypicality):
    cosine to own-label centroid (q85's order-independent integer-nano
    centroids), ranked via the distributed stratum-rank construction,
    folded to the labels x deciles grain — the SemDeDup-style pruning
    signal."""
    return similarity.prototypicality(_base(spark, sf_dir, "embeddings"))


def q150_dedup_threshold_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jaccard threshold sweep (dedup.dedup_threshold_curve): the q23 exact
    pair relation computed once, then pair/doc/removal counts at five
    cutoffs via a |thresholds|-literal explode — the dedup-knee report."""
    return dedup.dedup_threshold_curve(
        _base(spark, sf_dir, "documents"), thresholds_pct=CURVE_THRESHOLDS
    )


RM_K = 10
RM_MAX_QUERIES = 25


def q151_kn_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram NLL per document
    (text_ops.kn_bigram_logprob): the real KenLM-style smoothing with
    integer-scaled log-probs and a nano-precision integer mean — no float
    summation-order or .5-rounding divergence anywhere."""
    return text_ops.kn_bigram_logprob(_base(spark, sf_dir, "documents"))


def q152_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source score calibration (text_ops.quantile_normalize_scores):
    per (source, score) mid-rank quantiles within source and globally —
    all-integer CDF math on the bounded score grain."""
    return text_ops.quantile_normalize_scores(_base(spark, sf_dir, "documents"))


def q153_retrieval_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval eval (similarity.retrieval_metrics): MRR / hits@10 /
    nDCG@10 for exact cosine top-k over a capped deterministic query
    sample, same-label relevance, driver-literal integer DCG gains."""
    return similarity.retrieval_metrics(
        _base(spark, sf_dir, "embeddings"), k=RM_K, max_queries=RM_MAX_QUERIES
    )


SURPRISAL_WINDOW = 8


def q154_surprisal_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Junk-span detector (text_ops.surprisal_spans): per doc, the
    8-token window with the highest mean unigram surprisal — integer-nano
    vocab-grain surprisal, per-doc bounded sliding window, earliest-span
    tiebreak."""
    return text_ops.surprisal_spans(
        _base(spark, sf_dir, "documents"), window=SURPRISAL_WINDOW
    )


def q155_table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Release-gate data profiler (analytics.table_profile): per column
    of the documents table — rows, nulls, exact distinct, string min/max
    — one aggregation pass, 1-row shuffle, |columns|-grain unpivot."""
    return analytics.table_profile(_base(spark, sf_dir, "documents"))


def q156_join_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-join cardinality probe (analytics.join_cardinality_audit) for
    orders ⨝ lineitem on orderkey: per-side key-grain aggs, q135-style
    full-outer merge, exact output-cardinality and worst-fanout — the
    shuffle-planning companion to hot_keys (q146)."""
    fx.load_base_tables(spark, sf_dir)
    return analytics.join_cardinality_audit(
        spark.table("orders"), spark.table("lineitem"), "o_orderkey", "l_orderkey"
    )


BLOCKLIST_TERMS = ("big", "merge", "slow")


def q157_blocklist_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexicon gate (text_ops.blocklist_scan): per-doc blocklist hit
    counts, earliest hit position, flag — the array-literal zero-shuffle
    scan; bloom prefilter (q81) is the >10^4-term scale path."""
    return text_ops.blocklist_scan(
        _base(spark, sf_dir, "documents"), BLOCKLIST_TERMS
    )


def q158_token_mass_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-WEIGHTED length quantiles (analytics.histogram_quantiles with
    weight): 'the median token lives in a doc of length X' — the
    length-distribution view that matters for packing and truncation
    budgets, where long docs dominate by mass not by count."""
    n_tok = F.size(F.split(F.col("text"), " "))
    return analytics.histogram_quantiles(
        _base(spark, sf_dir, "documents"),
        n_tok,
        bins=HISTQ_BINS,
        weight=n_tok,
    )


PR_ITERS = 3
PR_TOPK = 20


def q159_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the part co-order graph (graph.pagerank_topk):
    3 exact-integer iterations (rank in nanos, contributions by integer
    division), damping 85% — the link-graph source-weighting primitive,
    oracle-checked via unrolled CTE iterations."""
    edges = graph.coorder_edges(_base(spark, sf_dir, "lineitem"), directed=True)
    return graph.pagerank_topk(edges, k=PR_TOPK, iterations=PR_ITERS)


EWMA_LOOKBACK = 8
EWMA_THRESHOLD_MICROS = 50_000_000


def q160_ewma_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user EWMA deviation monitor (analytics.ewma_deviation): dyadic
    lag-chain weights, integer micros — one user-window shuffle, no
    self-join."""
    return analytics.ewma_deviation(
        _base(spark, sf_dir, "events"),
        lookback=EWMA_LOOKBACK,
        threshold_micros=EWMA_THRESHOLD_MICROS,
    )


RULES_MIN_SUPPORT = 20


def q161_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket rules A→B over per-user event-type baskets
    (analytics.association_rules): support / confidence(ppm) / lift(milli),
    all integer-scaled."""
    return analytics.association_rules(
        _base(spark, sf_dir, "events"), min_support=RULES_MIN_SUPPORT
    )


def q162_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source Flesch reading-ease census (text_ops.readability_report):
    integer-milli FRE from words/sentence and vowel-run syllables — the
    curation-facing readability gate."""
    return text_ops.readability_report(_base(spark, sf_dir, "documents"))


def q163_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source score winsorization audit (text_ops.winsorize_scores):
    p05/p95 clamp bounds from the bounded score grain, mean shift in exact
    integer millis."""
    return text_ops.winsorize_scores(_base(spark, sf_dir, "documents"))


def q164_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source language-diversity indices (text_ops.diversity_indices):
    richness, Gini–Simpson ppm, Berger–Parker ppm — two tiny aggs, zero
    floats."""
    return text_ops.diversity_indices(_base(spark, sf_dir, "documents"))


def q165_pareto_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-vs-length Pareto frontier (text_ops.pareto_frontier): 2-D
    skyline via a running max over the bounded score grain — never a
    per-doc global window."""
    return text_ops.pareto_frontier(_base(spark, sf_dir, "documents"))


def q166_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle census of the part co-order graph (graph.triangle_count):
    degree-oriented node-iterator join — each wedge generated once at its
    lowest-degree apex; global clustering coefficient in ppm."""
    edges = graph.coorder_edges(
        _base(spark, sf_dir, "lineitem"), directed=False
    )
    return graph.triangle_count(edges)


EPOCH_BUDGET_NUM = 3
EPOCH_BUDGET_DEN = 1
EPOCH_MAX = 4


def q167_epoch_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-constrained epoch planner (sampling.epoch_allocation): uniform
    split of a 3× token budget with a 4-epoch repetition cap and one exact
    redistribution round — the complement of q145's water-fill."""
    return sampling.epoch_allocation(
        _base(spark, sf_dir, "documents"),
        budget_num=EPOCH_BUDGET_NUM,
        budget_den=EPOCH_BUDGET_DEN,
        max_epochs=EPOCH_MAX,
    )


def q168_normalization_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonicalization census (text_ops.normalization_audit): lowercase +
    whitespace-collapse + trim impact per source — pure scan projection,
    zero joins."""
    return text_ops.normalization_audit(_base(spark, sf_dir, "documents"))


ENGAGE_TOPK = 15


def q169_decayed_engagement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recency-weighted user engagement (analytics.decayed_engagement):
    dyadic 2^-age_days decay in exact integer micros, TakeOrdered top-k."""
    return analytics.decayed_engagement(
        _base(spark, sf_dir, "events"), k=ENGAGE_TOPK
    )


PATH_TOPK = 20


def q170_path_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k 3-step event sequences (analytics.path_trigrams): lead-chain
    triples per user, counted corpus-wide — the sequential-pattern view
    next to q99's pair transitions."""
    return analytics.path_trigrams(_base(spark, sf_dir, "events"), k=PATH_TOPK)


GAP_MIN = 5
GAP_MAX_CV2 = 250_000


def q171_gap_regularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metronome-bot detector (analytics.gap_regularity): squared gap-CV in
    exact integer micros via the co-moment identity — flags users with
    suspiciously regular inter-event timing."""
    return analytics.gap_regularity(
        _base(spark, sf_dir, "events"),
        min_gaps=GAP_MIN,
        max_cv2_micro=GAP_MAX_CV2,
    )


KW_TOPK = 3


def q172_doc_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc keyword extraction (text_ops.doc_keywords): top-3 TF-IDF
    terms with integer-nano idf; the rank window partitions by document."""
    return text_ops.doc_keywords(_base(spark, sf_dir, "documents"), top_k=KW_TOPK)


def q173_chi2_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source × quality-band chi-square (text_ops.chi2_independence):
    exact integer chi²·1000 via the cross-multiplied identity on a dense
    grid — the 'is quality independent of source' release check."""
    return text_ops.chi2_independence(_base(spark, sf_dir, "documents"))


MMR_QUERY_ID = 0
MMR_K = 3
MMR_POOL = 20
MMR_LAM_PCT = 70


def q174_mmr_diversify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal-marginal-relevance selection (similarity.mmr_select):
    diversity-aware top-k — one broadcast-query corpus scan builds the
    pool; the greedy loop runs on the pool-row relation with 6-dp rounded
    scores and id tiebreaks (deterministic, engine-portable)."""
    return similarity.mmr_select(
        _base(spark, sf_dir, "embeddings"),
        query_id=MMR_QUERY_ID,
        k=MMR_K,
        pool=MMR_POOL,
        lam_pct=MMR_LAM_PCT,
    )


SLQ_BINS = 64


def q175_source_length_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source p50/p90 token length
    (analytics.stratified_histogram_quantiles): q147's all-integer
    histogram machinery keyed by stratum — per-source min/max broadcast,
    bins on the (source × ≤64) grain."""
    n_tok = F.size(F.split(F.col("text"), " "))
    return analytics.stratified_histogram_quantiles(
        _base(spark, sf_dir, "documents"), n_tok, strata_col="source",
        bins=SLQ_BINS,
    )


TC_PMI_TAU = 0.2
TC_MIN_COUNT = 5


def q176_term_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PMI-graph term clustering: the q91 PMI relation filtered to strong
    collocation edges, folded by generic min-label connected components
    (graph.connected_components, string keys) — 'which words form one
    templated phrase family'. Oracle = recursive-CTE reachability."""
    edges = (
        text_ops.pmi_scored(
            _base(spark, sf_dir, "documents"), min_count=TC_MIN_COUNT
        )
        .filter(F.col("pmi") >= TC_PMI_TAU)
        .select(F.col("w1").alias("src"), F.col("w2").alias("dst"))
    )
    return graph.connected_components(edges).select(
        F.col("node").alias("term"), "cluster_id", "cluster_size"
    )


def q177_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit audit of order totals (analytics.benford_audit):
    observed vs expected ppm + exact integer chi² contributions — the
    synthetic-data smell test (this corpus IS synthetic; the audit should
    say so loudly)."""
    fx.load_base_tables(spark, sf_dir)
    return analytics.benford_audit(
        spark.table("orders"), F.col("o_totalprice")
    )


CONV_FROM = "view"
CONV_TO = "purchase"


def q178_conversion_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel latency quantiles (analytics.conversion_time_quantiles):
    first-view→first-purchase delay p50/p90 through the mergeable integer
    histogram — no global sort of per-user latencies."""
    return analytics.conversion_time_quantiles(
        _base(spark, sf_dir, "events"), from_type=CONV_FROM, to_type=CONV_TO
    )


def q179_dow_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly seasonality census (analytics.dow_profile): per epoch-day mod
    7, observed days and mean/min/max daily event counts — calendar-free,
    timezone-proof integer day keys."""
    return analytics.dow_profile(_base(spark, sf_dir, "events"))


COVERAGE_K = 3


def q180_coverage_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy max-coverage coreset selection (sampling.coverage_select):
    k docs maximizing distinct-shingle coverage — per step one
    anti-join-masked aggregation over the persisted shingle relation and a
    1-row argmax collect; oracle = unrolled greedy CTE steps."""
    return sampling.coverage_select(
        _base(spark, sf_dir, "documents"), k=COVERAGE_K
    )


def q181_cohen_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chance-corrected lang-ID agreement (text_ops.cohen_kappa): exact
    integer κ via the cross-multiplied form, marginals full-outer-merged on
    the class label so classes without a diagonal cell still count."""
    return text_ops.cohen_kappa(_base(spark, sf_dir, "documents"))


def q182_pseudonymize_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed-hash pseudonymization injectivity audit
    (privacy.pseudonymize_audit): distinct keys vs distinct pseudonyms vs
    collisions over events.user_id — the shippability check."""
    return privacy.pseudonymize_audit(
        _base(spark, sf_dir, "events"), "user_id"
    )


KANON_K = 5


def q183_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-anonymity risk histogram (privacy.k_anonymity_audit) over the
    (nation, market segment) quasi-identifier tuple of customers — rows in
    groups below k are the re-identification exposure."""
    fx.load_base_tables(spark, sf_dir)
    return privacy.k_anonymity_audit(
        spark.table("customer"), ["c_nationkey", "c_mktsegment"], k=KANON_K
    )


def q184_audio_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio near-dup pairs (multimodal.audio_energy_sig +
    audio_neardup_pairs): real WAV parse → 8-byte loudness-shape
    fingerprint → exact-byte pigeonhole banding → L1-verified pairs — the
    audio sibling of q93's image dHash. Rows-only check (binary decode has
    no SQL oracle; the codec itself is oracle-checked via q47)."""
    media = multimodal.encode_containers(_base(spark, sf_dir, "documents"))
    sigs = multimodal.audio_energy_sig(media)
    return multimodal.audio_neardup_pairs(sigs)


BAL_PLANES = 8


def q185_bucket_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN-index balance audit (similarity.bucket_balance): hyperplane
    bucket-size spread + imbalance factor — the q146 hot-keys probe on the
    semantic bucket key."""
    return similarity.bucket_balance(
        _base(spark, sf_dir, "embeddings"), num_planes=BAL_PLANES
    )


def q186_split_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-split independence audit (splits.split_balance_audit): exact
    integer chi² of split × source on the dense grid — the statistical
    proof that q64's content-hash assignment is unbiased per slice."""
    docs = _base(spark, sf_dir, "documents")
    return splits.split_balance_audit(
        docs, F.col("doc_id"), SPLIT_FRACTIONS, strata_col="source"
    )


def q187_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source embedding drift (similarity.centroid_drift): cosine of
    each source's integer-nano centroid against the global centroid — the
    embedding-space slice-health check."""
    return similarity.centroid_drift(
        _base(spark, sf_dir, "embeddings"),
        _base(spark, sf_dir, "documents"),
    )


def q188_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution (analytics.last_touch_attribution): per
    conversion, the most recent preceding non-conversion event type via a
    conditional running max — one window, no as-of self-join."""
    return analytics.last_touch_attribution(
        _base(spark, sf_dir, "events"), conversion_type="purchase"
    )


def q189_transition_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral concept drift (analytics.transition_drift): L1 distance
    between first-half and second-half transition distributions in exact
    integer ppm, with the worst-drifting pair."""
    return analytics.transition_drift(_base(spark, sf_dir, "events"))


CTX_SWEEP = (64, 128, 256, 512)


def q190_ctx_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-length planning sweep (text_ops.ctx_length_sweep):
    kept/truncated/padding token accounting at four candidate context
    lengths via a ×4 literal explode before the map-side combine."""
    return text_ops.ctx_length_sweep(
        _base(spark, sf_dir, "documents"), contexts=CTX_SWEEP
    )


VT_HEAD_K = 10


def q191_vocab_tail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary tail health (text_ops.vocab_tail_report): hapax share of
    the vocab + top-10 token-mass share per source — head mass computed on
    the count-LEVEL grain (tie-agnostic), never a per-source vocab sort."""
    return text_ops.vocab_tail_report(
        _base(spark, sf_dir, "documents"), head_k=VT_HEAD_K
    )


JL_PLANES = 16
JL_MAX_DOCS = 100


def q192_jl_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JL distance-preservation audit (similarity.jl_projection_audit):
    64→16-dim signed-projection cosine error on the q136 capped sample —
    integer projections and dot products, only the final cosine is float."""
    return similarity.jl_projection_audit(
        _base(spark, sf_dir, "embeddings"),
        proj_planes=JL_PLANES,
        max_docs=JL_MAX_DOCS,
    )


ECE_BINS = 10


def q193_ece_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-score calibration (text_ops.ece_calibration): reliability
    bins of score-as-confidence vs gopher-pass outcome; the per-bin gap
    telescopes to an exact integer so ECE is one final division."""
    return text_ops.ece_calibration(
        _base(spark, sf_dir, "documents"), n_bins=ECE_BINS
    )


def q194_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample KS drift gate (text_ops.ks_score_drift): en vs non-en
    quality-score distributions; exact-integer D numerator on the bounded
    0–100 score grain."""
    return text_ops.ks_score_drift(_base(spark, sf_dir, "documents"))


def q195_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation (analytics.rfm_segments): exact tercile scoring on
    bounded value grains, ≤27-segment report."""
    return analytics.rfm_segments(_base(spark, sf_dir, "events"))


def q196_markov_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov removal-effect attribution (analytics.markov_removal_effect):
    first-order chain absorbed at first purchase, 8-step conversion mass
    per channel removal — state-grain iterations only."""
    return analytics.markov_removal_effect(
        _base(spark, sf_dir, "events"), conversion_type="purchase",
        steps=MARKOV_STEPS,
    )


def q197_survival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discrete-time survival/churn (analytics.survival_hazard): tenure-
    week at-risk/churn/hazard via one user agg + bounded-grain windows."""
    return analytics.survival_hazard(_base(spark, sf_dir, "events"))


def q198_intrinsic_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TwoNN intrinsic dimension (similarity.twonn_intrinsic_dim): MLE from
    nearest-two distance ratios on the q136 capped sample."""
    return similarity.twonn_intrinsic_dim(
        _base(spark, sf_dir, "embeddings"), max_docs=TWONN_MAX_DOCS
    )


MARKOV_STEPS = 8
TWONN_MAX_DOCS = 200
DOREMI_ETA = 1.0
BURST_K = 25
BURST_MIN_DF = 3
HILL_K = 200
EIGEN_ITERS = 8


def q199_doremi_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DoReMi mixture reweighting (text_ops.doremi_weights): per-source
    excess unigram-LM loss → exp → normalized sampling weight; per-term
    NLL integer-scaled at the vocab grain."""
    return text_ops.doremi_weights(
        _base(spark, sf_dir, "documents"), eta=DOREMI_ETA
    )


def q200_term_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Church–Gale burstiness head (text_ops.term_burstiness): top-k
    variance-to-mean terms, exact integer moments."""
    return text_ops.term_burstiness(
        _base(spark, sf_dir, "documents"), k=BURST_K, min_df=BURST_MIN_DF
    )


def q201_markov_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavior entropy rate (analytics.markov_entropy): outflow-weighted
    conditional entropy of the event transition chain."""
    return analytics.markov_entropy(_base(spark, sf_dir, "events"))


def q202_hill_tail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-tail exponent (text_ops.hill_tail_index): Hill estimator on
    the k largest doc lengths via TakeOrdered k+1 rows."""
    return text_ops.hill_tail_index(
        _base(spark, sf_dir, "documents"), k=HILL_K
    )


def q203_top_eigen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding anisotropy (similarity.top_eigen_share): distributed
    power iteration on the 6dp-rounded covariance grain; Rayleigh
    quotient / trace share."""
    return similarity.top_eigen_share(
        _base(spark, sf_dir, "embeddings"), iters=EIGEN_ITERS
    )


def q204_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM drift detector (analytics.cusum_changepoints): prefix-sum
    minus running-min on the bounded day grain, exact integer milli."""
    return analytics.cusum_changepoints(_base(spark, sf_dir, "events"))


def q205_spearman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monotone association (text_ops.spearman_quality_length): exact
    mid-rank Spearman of score vs token count, ranks broadcast from
    bounded value grains, DECIMAL(38) co-moments."""
    return text_ops.spearman_quality_length(_base(spark, sf_dir, "documents"))


def q206_halflife(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engagement decay fit (analytics.engagement_halflife): OLS of
    ln(daily volume) on day index, bounded day grain."""
    return analytics.engagement_halflife(_base(spark, sf_dir, "events"))


def q207_chao1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-population estimate (text_ops.chao1_richness): Chao1 from
    the content-hash multiplicity spectrum."""
    return text_ops.chao1_richness(_base(spark, sf_dir, "documents"))


def q208_lang_source_mi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slice mutual information (text_ops.lang_source_mi): MI in nats on
    the dense lang×source grid — q173's effect-size sibling."""
    return text_ops.lang_source_mi(_base(spark, sf_dir, "documents"))


Q5_REGION = "ASIA"
Q5_START_S = 788918400
Q5_END_S = 946684800


def q209_regional_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape (analytics.regional_revenue): 6-table join with the
    customer-nation = supplier-nation equality, broadcast dims, revenue
    in exact cents."""
    return analytics.regional_revenue(
        _base(spark, sf_dir, "lineitem"),
        _base(spark, sf_dir, "orders"),
        _base(spark, sf_dir, "customer"),
        _base(spark, sf_dir, "supplier"),
        _base(spark, sf_dir, "nation"),
        _base(spark, sf_dir, "region"),
        region_name=Q5_REGION,
        start_epoch_s=Q5_START_S,
        end_epoch_s=Q5_END_S,
    )


def q210_ab_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B sanity z-test (analytics.ab_conversion_z): md5 hash-bucket arms,
    exact conversion counts, pooled-SE z."""
    return analytics.ab_conversion_z(_base(spark, sf_dir, "events"))


def q211_time_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense daily spine with gap flags (analytics.time_spine_fill):
    sequence-explode of the min/max day bounds, zero-filled left join."""
    return analytics.time_spine_fill(_base(spark, sf_dir, "events"))


def q212_char_bigram_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional char entropy (text_ops.char_bigram_entropy): H(c2|c1)
    on the bounded pair grain after one position explode."""
    return text_ops.char_bigram_entropy(_base(spark, sf_dir, "documents"))


ACF_MAX_LAG = 7
CONC_TOP_PPM = 200_000
HUB_K = 3
HUB_MAX_DOCS = 200
WILSON_Z_MILLI = 1960


def q213_crossplit_nll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-split generalization gap (text_ops.crossplit_nll): train-fit
    Laplace unigram LM scored on every split, integer nano-nat surprisal
    at the union-vocab grain."""
    return text_ops.crossplit_nll(
        _base(spark, sf_dir, "documents"), fractions=SPLIT_FRACTIONS
    )


def q214_wilson_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilson-interval pass rates (text_ops.wilson_pass_ci): per-source
    gopher pass rate with 95% score bounds."""
    return text_ops.wilson_pass_ci(
        _base(spark, sf_dir, "documents"), z_milli=WILSON_Z_MILLI
    )


def q215_daily_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily-volume autocorrelation (analytics.daily_acf): lags 1..7 on
    the bounded day grain, DECIMAL(38) moments."""
    return analytics.daily_acf(
        _base(spark, sf_dir, "events"), max_lag=ACF_MAX_LAG
    )


def q216_revenue_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20% spend share (analytics.revenue_concentration): boundary
    from the bounded dollar grain, exact counts."""
    return analytics.revenue_concentration(
        _base(spark, sf_dir, "events"), top_ppm=CONC_TOP_PPM
    )


def q217_hubness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN hubness audit (similarity.hubness_audit): in-degree skew of the
    capped-sample kNN graph."""
    return similarity.hubness_audit(
        _base(spark, sf_dir, "embeddings"), k=HUB_K, max_docs=HUB_MAX_DOCS
    )


UCB_SCALE_MILLI = 1000


def q218_ucb_source_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bandit data sourcing (text_ops.ucb_source_rank): gopher pass rate +
    UCB1 exploration bonus on the |sources| grain."""
    return text_ops.ucb_source_rank(
        _base(spark, sf_dir, "documents"), scale_milli=UCB_SCALE_MILLI
    )


def q219_daily_jsd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-over-day mix drift (analytics.daily_type_jsd): JSD between
    consecutive days' event-type distributions on the bounded grain."""
    return analytics.daily_type_jsd(_base(spark, sf_dir, "events"))


CHURN_K = 15


def q220_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-table provenance audit (similarity.label_lang_cramers_v):
    chi² incl. empty cells + Cramér's V on the label×lang grid."""
    return similarity.label_lang_cramers_v(
        _base(spark, sf_dir, "embeddings"),
        _base(spark, sf_dir, "documents"),
    )


def q221_dow_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal anomaly bands (analytics.dow_quantile_bands): exact
    per-dow quartiles of daily volume on the bounded grain."""
    return analytics.dow_quantile_bands(_base(spark, sf_dir, "events"))


def q222_head_churn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-head stability (text_ops.head_churn): top-k overlap
    between deterministic corpus halves."""
    return text_ops.head_churn(
        _base(spark, sf_dir, "documents"), k=CHURN_K
    )


NEG_K = 25
NEG_ALPHA_MILLI = 750
SSP_WIDTH_PPM = 20_000


def q223_negative_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive negatives table (text_ops.negative_sampling_table):
    unigram^0.75 head on the vocab grain."""
    return text_ops.negative_sampling_table(
        _base(spark, sf_dir, "documents"), k=NEG_K,
        alpha_milli=NEG_ALPHA_MILLI,
    )


def q224_sample_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Annotation budget planner (text_ops.sample_size_planner): docs
    needed for ±2% pass-rate CIs per source."""
    return text_ops.sample_size_planner(
        _base(spark, sf_dir, "documents"), width_ppm=SSP_WIDTH_PPM,
        z_milli=WILSON_Z_MILLI,
    )


def q225_event_dedup_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event idempotency audit (analytics.event_dedup_audit): duplicate
    census on physical ids and logical identity."""
    return analytics.event_dedup_audit(_base(spark, sf_dir, "events"))


LATE_DAYS = 90
LATE_K = 10
LDIV_L = 2
CAP_SWEEP = (5, 10, 20, 50)


def q226_sole_late_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (analytics.sole_late_supplier): exists/not-exists
    as two-level aggs on uniform keys, TakeOrdered head."""
    return analytics.sole_late_supplier(
        _base(spark, sf_dir, "lineitem"),
        _base(spark, sf_dir, "orders"),
        late_days=LATE_DAYS,
        k=LATE_K,
    )


def q227_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L-diversity audit (privacy.l_diversity_audit): distinct sensitive
    values per (lang, source) QI group — homogeneity-attack exposure."""
    return privacy.l_diversity_audit(
        _base(spark, sf_dir, "documents"),
        quasi_cols=["lang", "source"],
        sensitive_col="n_chars",
        l=LDIV_L,
    )


def q228_cap_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-cap tuning sweep (text_ops.cap_sweep): survival table per
    (source, cap) from one scan."""
    return text_ops.cap_sweep(
        _base(spark, sf_dir, "documents"), caps=CAP_SWEEP
    )


FH_BITS = 12
SC_K = 10
SC_MAX_DOCS = 100


def q229_feature_hash_collisions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick audit (text_ops.feature_hash_collisions): collided
    buckets and token-mass share at 2^bits."""
    return text_ops.feature_hash_collisions(
        _base(spark, sf_dir, "documents"), bits=FH_BITS
    )


def q230_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nonparametric trend test (analytics.mann_kendall_trend): tie-
    corrected S/z on the bounded day grain."""
    return analytics.mann_kendall_trend(_base(spark, sf_dir, "events"))


def q231_sparse_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical cosine top-k (dedup.sparse_cosine_topk): TF sparse-vector
    similarity on the capped sample via a term join."""
    return dedup.sparse_cosine_topk(
        _base(spark, sf_dir, "documents"), k=SC_K, max_docs=SC_MAX_DOCS
    )


ADVISOR_TABLES = ("lineitem", "documents", "events", "embeddings")


def q232_partition_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engine-ops sizing (analytics.partition_advisor): deterministic
    per-table byte estimate → maxPartitionBytes / shuffle.partitions
    recommendations."""
    return analytics.partition_advisor(
        {t: _base(spark, sf_dir, t) for t in ADVISOR_TABLES}
    )


def q233_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph topology fingerprint (graph.degree_assortativity): Pearson
    degree correlation across co-order edges, DECIMAL(38) moments."""
    return graph.degree_assortativity(
        graph.coorder_edges(_base(spark, sf_dir, "lineitem"), directed=True)
    )


def q234_yoy_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """YoY revenue per nation (analytics.yoy_revenue_growth): epoch-year
    buckets, exact cents, lag on the bounded (nation, year) grain."""
    return analytics.yoy_revenue_growth(
        _base(spark, sf_dir, "orders"),
        _base(spark, sf_dir, "customer"),
        _base(spark, sf_dir, "nation"),
    )


def q235_best_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decision-stump threshold (text_ops.best_split_stump): exact Gini
    gain over every score threshold on the bounded grain."""
    return text_ops.best_split_stump(_base(spark, sf_dir, "documents"))


STUMP_T = 50
UE_BINS = 10


def q236_stump_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source stump transfer (text_ops.stump_eval_by_source): exact
    confusion counts + milli P/R/F1 at a fixed threshold."""
    return text_ops.stump_eval_by_source(
        _base(spark, sf_dir, "documents"), threshold=STUMP_T
    )


def q237_seasonal_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonality R² (analytics.seasonal_strength): dow-model variance
    share on the bounded day grain."""
    return analytics.seasonal_strength(_base(spark, sf_dir, "events"))


def q238_user_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral entropy census (analytics.user_entropy_census):
    normalized per-user type entropy histogram."""
    return analytics.user_entropy_census(
        _base(spark, sf_dir, "events"), bins=UE_BINS
    )


POP_PRIOR = 20
POP_K = 15


def q239_smoothed_popularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cold-start-safe popularity (analytics.smoothed_popularity):
    pseudo-count-shrunk part order counts, exact integer micro."""
    return analytics.smoothed_popularity(
        _base(spark, sf_dir, "lineitem"), prior_strength=POP_PRIOR, k=POP_K
    )


def q240_tukey_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier days (analytics.tukey_outlier_days): IQR fences in
    exact quarter units on the bounded day grain."""
    return analytics.tukey_outlier_days(_base(spark, sf_dir, "events"))


# --- TPC-H fill-in wave (q241-q255) ------------------------------------------
Q3_SEGMENT = "BUILDING"
Q3_CUTOFF_S = 852076800       # 1997-01-01
Q3_K = 10
Q6_START_S, Q6_END_S = 820454400, 852076800  # 1996
# fixture nation names are NATION_0..NATION_24 (regionkey = key % 5)
Q7_NATION_A, Q7_NATION_B = "NATION_4", "NATION_7"
Q7_START_S, Q7_END_S = 820454400, 883612800  # 1996-1997
Q8_NATION, Q8_REGION, Q8_TYPE = "NATION_6", "AMERICA", "STANDARD"
Q8_START_S, Q8_END_S = 788918400, 852076800  # spec window: 1995-1996
Q9_TOKEN, Q9_COST = "red", 0.6
Q10_START_S, Q10_END_S, Q10_K = 852076800, 859881600, 20  # 1997 Q1
Q14_START_S, Q14_END_S = 841536000, 844128000  # 1996-09
Q15_START_S, Q15_END_S = 820454400, 828316800  # 1996 Q1
Q17_BRAND, Q17_FRAC = "Brand#23", 0.2
Q18_MIN_QTY, Q18_K = 250.0, 100
Q19_BRANCHES = (
    ("Brand#11", 1.0, 11.0, 1, 5),
    ("Brand#22", 10.0, 20.0, 1, 10),
    ("Brand#25", 20.0, 30.0, 1, 15),  # fixture brands are Brand#1..Brand#25
)
Q22_CUTOFF_S = 915148800      # 1999-01-01
Q2_TYPE, Q2_MIN_SIZE, Q2_K = "LARGE", 40, 100
Q11_NATION, Q11_FRAC = "NATION_7", 0.001


def q241_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 (analytics.shipping_priority): unshipped-order revenue
    top-k for one market segment."""
    return analytics.shipping_priority(
        _base(spark, sf_dir, "customer"),
        _base(spark, sf_dir, "orders"),
        _base(spark, sf_dir, "lineitem"),
        segment=Q3_SEGMENT, cutoff_s=Q3_CUTOFF_S, k=Q3_K,
    )


def q242_revenue_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 (analytics.revenue_forecast): fully scan-pushed filtered
    global sum."""
    return analytics.revenue_forecast(
        _base(spark, sf_dir, "lineitem"),
        start_epoch_s=Q6_START_S, end_epoch_s=Q6_END_S,
    )


def q243_nation_trade_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 (analytics.nation_trade_volume): bilateral shipping
    volume per direction per ship year."""
    return analytics.nation_trade_volume(
        _base(spark, sf_dir, "lineitem"),
        _base(spark, sf_dir, "orders"),
        _base(spark, sf_dir, "customer"),
        _base(spark, sf_dir, "supplier"),
        _base(spark, sf_dir, "nation"),
        nation_a=Q7_NATION_A, nation_b=Q7_NATION_B,
        start_epoch_s=Q7_START_S, end_epoch_s=Q7_END_S,
    )


def q244_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 (analytics.market_share): one nation's share of a
    region's market for one part type, per order year."""
    return analytics.market_share(
        _base(spark, sf_dir, "lineitem"),
        _base(spark, sf_dir, "orders"),
        _base(spark, sf_dir, "customer"),
        _base(spark, sf_dir, "supplier"),
        _base(spark, sf_dir, "part"),
        _base(spark, sf_dir, "nation"),
        _base(spark, sf_dir, "region"),
        target_nation=Q8_NATION, region_name=Q8_REGION, part_type=Q8_TYPE,
        start_epoch_s=Q8_START_S, end_epoch_s=Q8_END_S,
    )


def q245_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 adapted (analytics.product_profit): nation x year profit
    with modeled unit cost."""
    return analytics.product_profit(
        _base(spark, sf_dir, "lineitem"),
        _base(spark, sf_dir, "orders"),
        _base(spark, sf_dir, "supplier"),
        _base(spark, sf_dir, "part"),
        _base(spark, sf_dir, "nation"),
        name_token=Q9_TOKEN, cost_factor=Q9_COST,
    )


def q246_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 (analytics.returned_items): top returned-revenue
    customers in one quarter."""
    return analytics.returned_items(
        _base(spark, sf_dir, "lineitem"),
        _base(spark, sf_dir, "orders"),
        _base(spark, sf_dir, "customer"),
        _base(spark, sf_dir, "nation"),
        start_epoch_s=Q10_START_S, end_epoch_s=Q10_END_S, k=Q10_K,
    )


def q247_order_count_distribution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TPC-H Q13 (analytics.order_count_distribution): orders-per-
    customer distribution including zero-order customers."""
    return analytics.order_count_distribution(
        _base(spark, sf_dir, "customer"), _base(spark, sf_dir, "orders")
    )


def q248_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 (analytics.promo_revenue): PROMO-part revenue share of
    one month."""
    return analytics.promo_revenue(
        _base(spark, sf_dir, "lineitem"),
        _base(spark, sf_dir, "part"),
        start_epoch_s=Q14_START_S, end_epoch_s=Q14_END_S,
    )


def q249_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 (analytics.top_supplier): max-revenue supplier(s) in one
    quarter via 1-row max broadcast."""
    return analytics.top_supplier(
        _base(spark, sf_dir, "lineitem"),
        _base(spark, sf_dir, "supplier"),
        start_epoch_s=Q15_START_S, end_epoch_s=Q15_END_S,
    )


def q250_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 (analytics.small_qty_revenue): below-average-quantity
    revenue for one brand."""
    return analytics.small_qty_revenue(
        _base(spark, sf_dir, "lineitem"),
        _base(spark, sf_dir, "part"),
        brand=Q17_BRAND, frac=Q17_FRAC,
    )


def q251_large_volume_customers(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TPC-H Q18 (analytics.large_volume_customers): customers with
    single orders above a quantity threshold."""
    return analytics.large_volume_customers(
        _base(spark, sf_dir, "lineitem"),
        _base(spark, sf_dir, "orders"),
        _base(spark, sf_dir, "customer"),
        min_qty=Q18_MIN_QTY, k=Q18_K,
    )


def q252_discounted_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 (analytics.discounted_revenue): OR-of-ANDs brand/qty/
    size predicate inside one partkey equi-join."""
    return analytics.discounted_revenue(
        _base(spark, sf_dir, "lineitem"),
        _base(spark, sf_dir, "part"),
        branches=Q19_BRANCHES,
    )


def q253_dormant_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 adapted (analytics.dormant_customers): well-funded
    customers with no recent orders, grouped by nation key."""
    return analytics.dormant_customers(
        _base(spark, sf_dir, "customer"),
        _base(spark, sf_dir, "orders"),
        cutoff_s=Q22_CUTOFF_S,
    )


def q254_min_unit_price_supplier(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TPC-H Q2 adapted (analytics.min_unit_price_supplier): lowest
    observed-unit-price supplier per qualifying part."""
    return analytics.min_unit_price_supplier(
        _base(spark, sf_dir, "lineitem"),
        _base(spark, sf_dir, "part"),
        _base(spark, sf_dir, "supplier"),
        _base(spark, sf_dir, "nation"),
        part_type=Q2_TYPE, min_size=Q2_MIN_SIZE, k=Q2_K,
    )


def q255_important_part_value(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TPC-H Q11 adapted (analytics.important_part_value): parts whose
    traded value through one nation exceeds a fraction of the total."""
    return analytics.important_part_value(
        _base(spark, sf_dir, "lineitem"),
        _base(spark, sf_dir, "supplier"),
        _base(spark, sf_dir, "nation"),
        nation_name=Q11_NATION, frac=Q11_FRAC,
    )


# --- TPC-H completion + layout wave (q256-q260) ------------------------------
Q1_CUTOFF_S = 904608000               # 1998-09-01 (spec shipdate cutoff)
Q4_START_S, Q4_END_S = 836179200, 844128000  # 1996 Q3
Q4_GRACE_DAYS = 30
Q16_EXCLUDE_TYPE, Q16_K = "PROMO", 100
Q20_START_S, Q20_END_S, Q20_FRAC = 820454400, 852076800, 0.5  # 1996
ZO_BITS, ZO_CELL_BITS = 8, 3
# query box: mid-January-2024 window × the low third of user ids
ZO_BOX = (1704800000000, 1705400000000, 0, 49)


def q256_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 full spec shape (analytics.pricing_summary): 8-aggregate
    pricing summary in exact cents."""
    return analytics.pricing_summary(
        _base(spark, sf_dir, "lineitem"), cutoff_epoch_s=Q1_CUTOFF_S
    )


def q257_late_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 adapted (analytics.late_order_priority): per-priority
    count of orders with a late-shipping line (EXISTS semi-join)."""
    return analytics.late_order_priority(
        _base(spark, sf_dir, "orders"),
        _base(spark, sf_dir, "lineitem"),
        start_epoch_s=Q4_START_S, end_epoch_s=Q4_END_S,
        grace_days=Q4_GRACE_DAYS,
    )


def q258_part_supplier_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 adapted (analytics.part_supplier_counts): distinct
    supplier breadth per (brand, type, size)."""
    return analytics.part_supplier_counts(
        _base(spark, sf_dir, "lineitem"),
        _base(spark, sf_dir, "part"),
        exclude_type=Q16_EXCLUDE_TYPE, k=Q16_K,
    )


def q259_excess_shippers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 adapted (analytics.excess_shippers): suppliers
    dominating a part's shipped volume in a window."""
    return analytics.excess_shippers(
        _base(spark, sf_dir, "lineitem"),
        _base(spark, sf_dir, "supplier"),
        _base(spark, sf_dir, "nation"),
        start_epoch_s=Q20_START_S, end_epoch_s=Q20_END_S, frac=Q20_FRAC,
    )


def q260_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order clustering advisor (plans.layout.zorder_cell_stats) over
    events (time × user): per-would-be-file Morton-bucket envelopes and
    whether a 2-D query box must read each file — the measured zone-map
    skip ratio for an interleaved layout."""
    ev = _base(spark, sf_dir, "events").select(
        F.unix_millis("ts").alias("ts_ms"), "user_id"
    )
    return layout.zorder_cell_stats(
        ev, "ts_ms", "user_id",
        bits=ZO_BITS, cell_bits=ZO_CELL_BITS, box=ZO_BOX,
    )


# --- clustering-quality / graph / robust-trend wave (q261-q265) --------------
AA_K, AA_MAX_DEG = 50, 64


def q261_centroid_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simplified silhouette per label cluster
    (similarity.centroid_silhouette): centroid-based (b−a)/max(a,b) in
    exact micro-unit integers."""
    return similarity.centroid_silhouette(_base(spark, sf_dir, "embeddings"))


def q262_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adamic-Adar link prediction (graph.adamic_adar_topk) over the part
    co-purchase graph: top-k non-adjacent pairs by shared-neighbor score."""
    edges = graph.coorder_edges(
        _base(spark, sf_dir, "lineitem"), directed=False
    )
    return graph.adamic_adar_topk(edges, k=AA_K, max_apex_degree=AA_MAX_DEG)


def q263_theil_sen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust revenue trend (analytics.theil_sen_daily_revenue): median of
    pairwise daily-revenue slopes plus median-residual intercept."""
    return analytics.theil_sen_daily_revenue(_base(spark, sf_dir, "orders"))


def q264_layout_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sort-key advisor (plans.layout.layout_skip_compare): zone-map skip
    envelopes for linear-x vs linear-y vs Z-order layouts under the same
    2-D query box as q260."""
    ev = _base(spark, sf_dir, "events").select(
        F.unix_millis("ts").alias("ts_ms"), "user_id"
    )
    return layout.layout_skip_compare(
        ev, "ts_ms", "user_id",
        bits=ZO_BITS, cell_bits=ZO_CELL_BITS, box=ZO_BOX,
    )


def q265_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-segmentation changepoint (analytics.changepoint_split_day):
    the day splitting the daily event-count series with maximum variance
    reduction."""
    return analytics.changepoint_split_day(_base(spark, sf_dir, "events"))


# --- robust-stats / graph-core / planning wave (q266-q270) -------------------
KCORE_K, KCORE_ROUNDS = 4, 6
HAMPEL_W, HAMPEL_K = 3, 3.0
COMPACT_TARGET = 200_000
CONF_ALPHA_MILLI, CONF_SEED = 100, "conf0"


def q266_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core of the part co-purchase graph (graph.kcore_peel): surviving
    nodes + degrees after KCORE_ROUNDS synchronous peel rounds at
    k=KCORE_K."""
    edges = graph.coorder_edges(
        _base(spark, sf_dir, "lineitem"), directed=False
    )
    return graph.kcore_peel(edges, k=KCORE_K, rounds=KCORE_ROUNDS)


def q267_hampel_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-median Hampel filter (analytics.hampel_outlier_days) over
    the daily event-count series."""
    return analytics.hampel_outlier_days(
        _base(spark, sf_dir, "events"),
        half_window=HAMPEL_W, k_sigma=HAMPEL_K,
    )


def q268_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Size-tiered compaction bins (retention.compaction_plan) over the
    distinct backup object inventory."""
    return retention.compaction_plan(
        _fixture(spark, sf_dir, "manifest_entries"),
        target_bytes=COMPACT_TARGET,
    )


def q269_conformal_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal calibration per source
    (sampling.conformal_calibration): rank-exact q-hat on |n_chars − mean|
    and held-out coverage."""
    return sampling.conformal_calibration(
        _base(spark, sf_dir, "documents"),
        alpha_milli=CONF_ALPHA_MILLI, seed=CONF_SEED,
    )


def q270_loso_influence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-source-out unigram influence (text.loso_source_influence):
    how well the rest of the corpus predicts each source."""
    return text_ops.loso_source_influence(_base(spark, sf_dir, "documents"))


# --- market-basket / planning / series wave (q271-q275) ----------------------
Q12_MODES = ("A", "R")
Q12_START, Q12_END = 820454400, 852076800  # 1996 ship year
BASKET_MIN_PAIR, BASKET_K = 10, 50
SALT_KEYS = ("l_orderkey", "l_partkey", "l_suppkey")
SALT_TARGET = 500_000
XCORR_A, XCORR_B, XCORR_MAXLAG = "view", "purchase", 7


def q271_shipmode_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (analytics.shipmode_priority): high- vs low-priority
    line counts per (returnflag-as-)ship-mode in the 1996 ship year."""
    return analytics.shipmode_priority(
        _base(spark, sf_dir, "orders"),
        _base(spark, sf_dir, "lineitem"),
        modes=Q12_MODES, start_epoch_s=Q12_START, end_epoch_s=Q12_END,
    )


def q272_brand_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brand-pair association rules (analytics.brand_basket_rules):
    support / confidence / lift over order baskets, top-k by lift."""
    return analytics.brand_basket_rules(
        _base(spark, sf_dir, "lineitem"),
        _base(spark, sf_dir, "part"),
        min_pair_orders=BASKET_MIN_PAIR, k=BASKET_K,
    )


def q273_salt_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-skew salt advisor (analytics.salt_advisor): per candidate
    shuffle key, the census + recommended salt factor."""
    return analytics.salt_advisor(
        _base(spark, sf_dir, "lineitem"),
        key_cols=SALT_KEYS, target_rows_per_task=SALT_TARGET,
    )


def q274_xcorr_leadlag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lead-lag cross-correlation (analytics.xcorr_leadlag) between the
    view and purchase daily series at lags ±7."""
    return analytics.xcorr_leadlag(
        _base(spark, sf_dir, "events"),
        type_a=XCORR_A, type_b=XCORR_B, max_lag=XCORR_MAXLAG,
    )


def q275_top2_eigen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-two covariance eigenvalues by deflated power iteration
    (similarity.top2_eigen_share): line- vs plane-collapse diagnosis."""
    return similarity.top2_eigen_share(
        _base(spark, sf_dir, "embeddings"), iters=EIGEN_ITERS
    )


# --- sketch-audit / calibration / graph-census wave (q276-q280) --------------
BRIER_LANG, BRIER_CAP, BRIER_BINS = "en", 2000, 20
SQA_K, SQA_SEED = 1024, "sq0"
SQA_QS = (250, 500, 750, 900)
JOIN_EDGES = [
    ("lineitem", "orders"),
    ("lineitem", "part"),
    ("lineitem", "supplier"),
    ("orders", "customer"),
]


def q276_hll_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog distinct-vocabulary estimate vs exact per source
    (text.hll_distinct_audit): the cardinality sketch of the family."""
    return text_ops.hll_distinct_audit(_base(spark, sf_dir, "documents"))


def q277_brier_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Murphy decomposition of the length-classifier Brier score
    (analytics.brier_decomposition)."""
    return analytics.brier_decomposition(
        _base(spark, sf_dir, "documents"),
        target_lang=BRIER_LANG, cap_chars=BRIER_CAP, n_bins=BRIER_BINS,
    )


def q278_component_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected-component size census of the ≥2-order part co-purchase
    graph (graph.component_census over graph.coorder_edges_min — the raw
    co-order graph is a near-clique, so the census runs on the repeated-
    signal subgraph)."""
    edges = graph.coorder_edges_min(
        _base(spark, sf_dir, "lineitem"), min_orders=2
    )
    return graph.component_census(edges)


def q279_join_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-strategy advisor (analytics.join_advisor): broadcast vs
    shuffle recommendation + exchange-volume estimate per join edge."""
    tables = {
        name: _base(spark, sf_dir, name)
        for name in ["lineitem", "orders", "part", "supplier", "customer"]
    }
    return analytics.join_advisor(tables, JOIN_EDGES)


def q280_sample_quantile_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bottom-k-by-hash quantile sketch audited against exact rank
    quantiles (sampling.sample_quantile_audit)."""
    return sampling.sample_quantile_audit(
        _base(spark, sf_dir, "orders"), k=SQA_K, q_millis=SQA_QS,
        seed=SQA_SEED,
    )


# --- planning / inequality / lifetime / rollup wave (q281-q285) ---------------
SHB_KEY, SHB_PARTS, SHB_SEED = "l_partkey", (8, 32, 128), "shb0"


def q281_shuffle_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-partition load simulation (analytics.shuffle_balance) for the
    partkey shuffle at candidate partition counts."""
    return analytics.shuffle_balance(
        _base(spark, sf_dir, "lineitem"),
        key_col=SHB_KEY, partition_counts=SHB_PARTS, seed=SHB_SEED,
    )


def q282_partial_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial correlation of value vs hour-of-day controlling event type
    (analytics.partial_corr_value_hour)."""
    return analytics.partial_corr_value_hour(_base(spark, sf_dir, "events"))


def q283_theil_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-T inequality of document length with between/within-source
    decomposition (text.theil_decomposition)."""
    return text_ops.theil_decomposition(_base(spark, sf_dir, "documents"))


def q284_object_lifetimes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backup-object lifetime census per keyspace
    (retention.object_lifetimes)."""
    return retention.object_lifetimes(
        _fixture(spark, sf_dir, "manifest_entries")
    )


def q285_rollup_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP (day, type) event/user census in one Expand pass
    (analytics.rollup_census)."""
    return analytics.rollup_census(_base(spark, sf_dir, "events"))


# --- mergeable-sketch / robust-stats / cadence wave (q286-q290) ---------------
KMV_K = 256
K_OUT = 3.0 * 1.4826  # robust-profile outlier multiplier (matches Spark side)
HWND_DAYS = 7
HPCT_BUCKET, HPCT_QS = 500, (500, 950)
RPO_MS = 50 * 3600000


def q286_robust_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source exact median/MAD/outlier profile
    (sampling.robust_profile), rank-exact via the distributed stratum
    rank."""
    return sampling.robust_profile(_base(spark, sf_dir, "documents"))


def q287_hll_window_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7d distinct users by merging daily HLL registers, audited
    vs exact (analytics.hll_window_merge)."""
    return analytics.hll_window_merge(
        _base(spark, sf_dir, "events"), window_days=HWND_DAYS
    )


def q288_kmv_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise source-vocabulary Jaccard from KMV bottom-k signatures,
    audited vs exact (text.kmv_jaccard)."""
    return text_ops.kmv_jaccard(_base(spark, sf_dir, "documents"), k=KMV_K)


def q289_rpo_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backup-cadence gaps per snapshot series with RPO-violation counts
    (retention.rpo_gaps)."""
    return retention.rpo_gaps(
        _fixture(spark, sf_dir, "manifests"), rpo_ms=RPO_MS
    )


def q290_histogram_pctile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7d value percentiles from merged daily histograms
    (analytics.histogram_window_pctile)."""
    return analytics.histogram_window_pctile(
        _base(spark, sf_dir, "events"),
        window_days=HWND_DAYS, bucket_cents=HPCT_BUCKET, q_millis=HPCT_QS,
    )


# --- compliance / inference / esop-ops / card wave (q291-q295) ----------------
PURGE_PPM, PURGE_SEED = 20_000, "gdpr0"
MCI_Z_MILLI = 1960
DELBATCH_SIZE = 100
CARD_TABLES = ["lineitem", "orders", "customer", "part", "supplier",
               "events", "documents", "embeddings"]


def q291_deletion_impact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten blast-radius report per day
    (privacy.deletion_impact)."""
    return privacy.deletion_impact(
        _base(spark, sf_dir, "events"),
        purge_ppm=PURGE_PPM, seed=PURGE_SEED,
    )


def q292_median_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-statistic confidence interval for the median order value
    (sampling.median_ci)."""
    return sampling.median_ci(
        _base(spark, sf_dir, "orders"), z_milli=MCI_Z_MILLI
    )


def q293_delete_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Removable objects packed into 100-key delete batches
    (retention.delete_batches over manifest.removable_entries —
    the S3 DeleteObjects batching plan)."""
    removable = manifest.removable_entries(
        _fixture(spark, sf_dir, "manifest_entries"), DIFF_BACKUP
    )
    return retention.delete_batches(removable, batch_size=DELBATCH_SIZE)


def q294_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-relation dataset card across all base tables
    (analytics.dataset_card)."""
    return analytics.dataset_card(
        {t: _base(spark, sf_dir, t) for t in CARD_TABLES}
    )


def q295_backup_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OLS backup-size trend + next-backup forecast
    (retention.backup_growth_forecast)."""
    return retention.backup_growth_forecast(
        _fixture(spark, sf_dir, "manifests")
    )


# --- readability / PIT / attribution / MMD / funnel wave (q296-q300) ----------
PIT_CUTOFF_DAY, PIT_LABEL_DAYS = 19738, 7
CPF_PPM, CPF_SEED, CPF_BUDGET = 500_000, "rel0", 20_000


def q296_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch-proxy readability per source (text.readability_profile)."""
    return text_ops.readability_profile(_base(spark, sf_dir, "documents"))


def q297_pit_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time-correct feature/label census
    (analytics.pit_feature_snapshot)."""
    return analytics.pit_feature_snapshot(
        _base(spark, sf_dir, "events"),
        cutoff_day=PIT_CUTOFF_DAY, label_days=PIT_LABEL_DAYS,
    )


def q298_linear_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-credit multi-touch attribution per channel
    (analytics.linear_attribution)."""
    return analytics.linear_attribution(_base(spark, sf_dir, "events"))


def q299_linear_mmd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise linear MMD between embedding label groups
    (similarity.linear_mmd)."""
    return similarity.linear_mmd(_base(spark, sf_dir, "embeddings"))


def q300_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed release path (gopher → dedup → sample → shard plan)
    as one funnel relation (text.curation_pipeline_funnel)."""
    return text_ops.curation_pipeline_funnel(
        _base(spark, sf_dir, "documents"),
        sample_ppm=CPF_PPM, sample_seed=CPF_SEED,
        shard_budget_tokens=CPF_BUDGET,
    )


def q301_cosine_pairs_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded-LSH cosine pairs (similarity.cosine_pairs_lsh) — the guarded
    scale path behind q25's exact O(n²) baseline, same output schema:
    (band, bucket) equi-join candidates from 8×3 hyperplane sign bands,
    exact per-pair cosine (precision 1.0, recall ≈0.92 at τ=0.45). The
    engine SPLITS band-buckets larger than max_bucket=200 (seeded key
    extension, similarity._split_hot_buckets) — semantics SQL does not
    replicate — so oracle parity rests on the pinned precondition that
    the sf0.01 oracle corpus has no bucket over the cap (max observed 84;
    tests/test_similarity_scale_paths.py::test_q301_oracle_corpus_has_no_hot_buckets),
    under which both engines reduce to the identical plain banded join."""
    return similarity.cosine_pairs_lsh(
        _base(spark, sf_dir, "embeddings"),
        threshold=COSINE_TAU,
        bands=8,
        band_planes=3,
        dim=64,
    )


def q302_ngram_jaccard_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q23's df-capped branch as a declared query: candidate pairs come
    from the self-join of shingles with document frequency <= max_df only
    (hot/boilerplate shingles never enter the Σdf² candidate join — the
    scale-killer), while the reported jaccard still counts EVERY shared
    shingle, so values are exact. A pair is dropped only when all of its
    overlap is hotter than the cap — boilerplate-only overlap, the thing
    the cap exists to ignore. max_df=5 bites at every SF of this corpus
    (sf0.01: 29 hot shingles of 16k; sf0.1: 24.5k of 27k), so the split
    rare/hot verify is exercised by the oracle gate, and the sf10
    rehearsal measures the branch whose verify mass is candidates ×
    hot-shingles-per-doc instead of candidates × full shingle lists.
    This is the branch a real boilerplate-bearing corpus MUST use (see
    SCALE.md); q23 stays the oracle-exact corpus-wide baseline."""
    return dedup.ngram_jaccard_pairs(
        _base(spark, sf_dir, "documents"), n=3, threshold=JACCARD_TAU, max_df=5
    )


WJ_TAU = 0.8  # weighted-jaccard threshold: true rewrites sit above it, the
# bounded-vocabulary background (median ≈ 0.35, p99 ≈ 0.58) far below
WMH_HASHES, WMH_BANDS, WMH_CAP = 200, 20, 10


def q303_weighted_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact tf-weighted (bag-of-words multiset) Jaccard pairs
    (dedup.weighted_jaccard_pairs) — the dedup measure for bounded-
    vocabulary corpora where every distinct-shingle measure saturates
    (this corpus: 31-word vocabulary → every unigram is hot, set overlap
    near-total, yet term FREQUENCIES cleanly separate the 25 true
    rewrites at τ=0.8 from the 0.35-median background). Guarded exact
    baseline in the cosine_pairs plan shape: dense tf vectors over the
    collected vocabulary, broadcast × id-partitioned stream, mass-ratio
    prune inside the join condition, integer zip_with fold per surviving
    pair; q304 is the banded scale path."""
    return dedup.weighted_jaccard_pairs(
        _base(spark, sf_dir, "documents"), threshold=WJ_TAU
    )


def q304_weighted_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted-MinHash near-dup pairs (dedup.weighted_minhash_lsh_pairs)
    — q303's scale path, same output schema. Integer-replication
    reduction (term#1..term#min(tf,cap)) makes ordinary MinHash/banding/
    star-cap machinery compute capped weighted Jaccard; 20 bands × 10
    rows put the S-curve at ≈0.74 — deep banding is mandatory because the
    bounded-vocabulary BACKGROUND similarity (median 0.35, p99 0.58)
    would flood shallow bands with candidate pairs. md5 family: the full
    chain (element hash, 200-coefficient signature, band buckets,
    candidate join, exact capped verify) replays in the DuckDB oracle."""
    return dedup.weighted_minhash_lsh_pairs(
        _base(spark, sf_dir, "documents"),
        num_hashes=WMH_HASHES,
        bands=WMH_BANDS,
        tf_cap=WMH_CAP,
        threshold=WJ_TAU,
        hash_family="md5",
    )


DSG_EPS, DSG_ROUNDS = 0.5, 8


def q305_densest_subgraph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy densest subgraph (graph.densest_subgraph_peel) over the
    thresholded part co-purchase graph — the spam/template-farm detector:
    batched Charikar/Bahmani peel (drop deg ≤ 1.5·avg each round, keep
    the best-density round; 2(1+ε)-approx at ε=0.5). At sf0.1 the peel
    strips 20k organic nodes in 3 rounds and surfaces a 13-node repeated
    co-purchase core at density 0.77 — exactly the shape a link-farm
    miner keeps. Oracle: graph.densest_sql's unrolled 8-round chain,
    round-count and tiebreak parity with the Spark loop."""
    edges = graph.coorder_edges_min(
        _base(spark, sf_dir, "lineitem"), min_orders=2
    )
    return graph.densest_subgraph_peel(edges, eps=DSG_EPS, rounds=DSG_ROUNDS)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: the backup-listing report."""
    return q01_list_backups(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Every ``qNNN_<name>`` function of this module under its own name,
    in query-number order."""
    found = [(n, f) for n, f in globals().items() if re.fullmatch(r"q\d+_\w+", n)]
    return dict(sorted(found, key=lambda nf: int(nf[0][1:].split("_")[0])))


# --- DuckDB oracle ----------------------------------------------------------

def _lsh_oracle(
    measure_expr: str,
    alias: str,
    tau: float,
    bands: int = 8,
    cand_pred: str = "a.doc_id < b.doc_id",
    id_names: tuple[str, str] = ("id_a", "id_b"),
    docs_where: str = "",
    tail: str | None = None,
) -> str:
    """Full MinHash-LSH replication in DuckDB: same md5-derived element hash
    (CAST('0x'||substr(md5(s),1,8) AS BIGINT) == Spark conv(...,16,10)), the
    same seeded (a_i, b_i) family inlined as literals, md5 band buckets, and
    the same candidate-only exact verification. ``measure_expr`` is the
    final similarity formula over (shared, ca.n_sh, cb.n_sh) — jaccard for
    q22 (8 bands × 4 rows), containment for q69 (32 × 1)."""
    from esop_spark.operators.dedup import HASH_P, minhash_coeffs

    rows = 32 // bands
    coeffs = minhash_coeffs(32)
    sig_cols = ",\n                   ".join(
        f"MIN((x * {a} + {b}) % {HASH_P}) AS h{i}"
        for i, (a, b) in enumerate(coeffs)
    )
    bucket_terms = "\n                UNION ALL ".join(
        f"SELECT doc_id, {band} AS band, md5(concat_ws('-', "
        + ", ".join(f"h{band * rows + r}" for r in range(rows))
        + ")) AS bucket FROM sig"
        for band in range(bands)
    )
    final = tail if tail is not None else f"""
            SELECT id_a AS {id_names[0]}, id_b AS {id_names[1]},
                   ROUND({measure_expr}, 6) AS {alias}
            FROM shared
            JOIN cnt ca ON id_a = ca.doc_id
            JOIN cnt cb ON id_b = cb.doc_id
            WHERE ROUND({measure_expr}, 6) >= {tau}
    """
    return f"""
            WITH docs AS (
                SELECT doc_id, string_split(text, ' ') AS words FROM documents
                {docs_where}
            ),
            sh AS (
                SELECT DISTINCT doc_id,
                       words[i] || ' ' || words[i+1] || ' ' || words[i+2] AS shingle
                FROM docs, unnest(range(1, greatest(len(words) - 1, 1))) t(i)
            ),
            hx AS (
                SELECT doc_id,
                       CAST(concat('0x', substr(md5(shingle), 1, 8)) AS BIGINT)
                           % {HASH_P} AS x
                FROM sh
            ),
            sig AS (
                SELECT doc_id,
                   {sig_cols}
                FROM hx GROUP BY doc_id
            ),
            buckets AS (
                {bucket_terms}
            ),
            cand AS (
                SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
                FROM buckets a JOIN buckets b
                  ON a.band = b.band AND a.bucket = b.bucket
                 AND {cand_pred}
            ),
            cnt AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY 1),
            shared AS (
                SELECT c.id_a, c.id_b, COUNT(*) AS shared
                FROM cand c
                JOIN sh a ON a.doc_id = c.id_a
                JOIN sh b ON b.doc_id = c.id_b AND b.shingle = a.shingle
                GROUP BY 1, 2
            )
            {final}
    """


def _q22_oracle() -> str:
    return _lsh_oracle(
        "shared * 1.0 / (ca.n_sh + cb.n_sh - shared)", "jaccard", JACCARD_TAU
    )


def _wlsh_oracle() -> str:
    """q304 oracle: weighted MinHash via the integer-replication reduction,
    replayed end to end in DuckDB — per-doc word tf, elements
    term#1..term#min(tf,cap), the same md5-derived 32-bit element hash and
    seeded (a_i,b_i) signature family (WMH_HASHES coefficients inlined as
    literals), md5 band buckets (WMH_BANDS × rows), candidate pairs, and
    the exact capped-weighted verify (set jaccard of replicated elements ==
    Σmin/Σmax of capped tf). Mirrors dedup.weighted_minhash_lsh_pairs
    (hash_family='md5') exactly; the star cap is inactive at oracle SF
    (every band bucket ≪ max_bucket), same convention as the q22 oracle."""
    from esop_spark.operators.dedup import HASH_P, minhash_coeffs

    rows = WMH_HASHES // WMH_BANDS
    coeffs = minhash_coeffs(WMH_HASHES)
    sig_cols = ",\n                   ".join(
        f"MIN((x * {a} + {b}) % {HASH_P}) AS h{i}"
        for i, (a, b) in enumerate(coeffs)
    )
    bucket_terms = "\n                UNION ALL ".join(
        f"SELECT doc_id, {band} AS band, md5(concat_ws('-', "
        + ", ".join(f"h{band * rows + r}" for r in range(rows))
        + ")) AS bucket FROM sig"
        for band in range(WMH_BANDS)
    )
    return f"""
            WITH docs AS (
                SELECT doc_id, string_split(text, ' ') AS words FROM documents
            ),
            tf AS (
                SELECT doc_id, w AS term, COUNT(*) AS tf
                FROM docs, unnest(words) t(w) GROUP BY 1, 2
            ),
            sh AS (
                SELECT doc_id, term || '#' || CAST(i AS VARCHAR) AS shingle
                FROM tf, unnest(range(1, least(tf, {WMH_CAP}) + 1)) t(i)
            ),
            hx AS (
                SELECT doc_id,
                       CAST(concat('0x', substr(md5(shingle), 1, 8)) AS BIGINT)
                           % {HASH_P} AS x
                FROM sh
            ),
            sig AS (
                SELECT doc_id,
                   {sig_cols}
                FROM hx GROUP BY doc_id
            ),
            buckets AS (
                {bucket_terms}
            ),
            cand AS (
                SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
                FROM buckets a JOIN buckets b
                  ON a.band = b.band AND a.bucket = b.bucket
                 AND a.doc_id < b.doc_id
            ),
            cnt AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY 1),
            shared AS (
                SELECT c.id_a, c.id_b, COUNT(*) AS shared
                FROM cand c
                JOIN sh a ON a.doc_id = c.id_a
                JOIN sh b ON b.doc_id = c.id_b AND b.shingle = a.shingle
                GROUP BY 1, 2
            )
            SELECT id_a, id_b,
                   ROUND(shared * 1.0 / (ca.n_sh + cb.n_sh - shared), 6)
                       AS wjaccard
            FROM shared
            JOIN cnt ca ON id_a = ca.doc_id
            JOIN cnt cb ON id_b = cb.doc_id
            WHERE ROUND(shared * 1.0 / (ca.n_sh + cb.n_sh - shared), 6)
                  >= {WJ_TAU}
    """


AUDIT_RATE = 0.5
AUDIT_MAX_DOCS = 200  # absolute cap: the audit is quadratic in its sample

# Connected-components WITH chain shared by the q48 and q108 oracles: exact
# jaccard pairs -> symmetric edges -> recursive reachability -> min-label
# component per doc.
_CC_CORE = f"""
            WITH RECURSIVE docs AS (
                SELECT doc_id, string_split(text, ' ') AS words FROM documents
            ),
            sh AS (
                SELECT DISTINCT doc_id,
                       words[i] || ' ' || words[i+1] || ' ' || words[i+2] AS shingle
                FROM docs, unnest(range(1, greatest(len(words) - 1, 1))) t(i)
            ),
            cnt AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY 1),
            shared AS (
                SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS shared
                FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                GROUP BY 1, 2
            ),
            pairs AS (
                SELECT id_a, id_b
                FROM shared
                JOIN cnt ca ON id_a = ca.doc_id
                JOIN cnt cb ON id_b = cb.doc_id
                WHERE ROUND(shared * 1.0 / (ca.n_sh + cb.n_sh - shared), 6)
                      >= {JACCARD_TAU}
            ),
            edges AS (
                SELECT id_a AS src, id_b AS dst FROM pairs
                UNION
                SELECT id_b, id_a FROM pairs
            ),
            reach(src, dst) AS (
                SELECT src, dst FROM edges
                UNION
                SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
            ),
            comp AS (
                SELECT src AS doc_id, LEAST(src, MIN(dst)) AS cluster_id
                FROM reach GROUP BY src
            )
"""


def _q104_oracle() -> str:
    docs_where = f"""WHERE CAST(concat('0x',
                    substr(md5('audit:' || CAST(doc_id AS VARCHAR)), 1, 8))
                    AS BIGINT) % 1000000 < {int(AUDIT_RATE * 1_000_000)}
                ORDER BY CAST(concat('0x',
                    substr(md5('audit:' || CAST(doc_id AS VARCHAR)), 1, 8))
                    AS BIGINT) % 1000000 ASC, doc_id ASC
                LIMIT {AUDIT_MAX_DOCS}"""
    tail = f"""
            SELECT n_docs, n_true_pairs, n_candidates, n_found,
                   ROUND(n_found * 1.0 / NULLIF(n_true_pairs, 0), 6)
                       AS recall,
                   ROUND(n_found * 1.0 / NULLIF(n_candidates, 0), 6)
                       AS precision
            FROM (
                WITH truth AS (
                    SELECT s.id_a, s.id_b
                    FROM (
                        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                               COUNT(*) AS shared
                        FROM sh a JOIN sh b
                          ON b.shingle = a.shingle AND a.doc_id < b.doc_id
                        GROUP BY 1, 2
                    ) s
                    JOIN cnt ca ON s.id_a = ca.doc_id
                    JOIN cnt cb ON s.id_b = cb.doc_id
                    WHERE ROUND(shared * 1.0
                                / (ca.n_sh + cb.n_sh - shared), 6)
                          >= {JACCARD_TAU}
                )
                SELECT
                    CAST((SELECT COUNT(*) FROM docs) AS BIGINT) AS n_docs,
                    CAST((SELECT COUNT(*) FROM truth) AS BIGINT)
                        AS n_true_pairs,
                    CAST((SELECT COUNT(*) FROM cand) AS BIGINT)
                        AS n_candidates,
                    CAST((SELECT COUNT(*) FROM truth t
                          WHERE EXISTS (SELECT 1 FROM cand c
                                        WHERE c.id_a = t.id_a
                                          AND c.id_b = t.id_b))
                         AS BIGINT) AS n_found
            )
    """
    return _lsh_oracle(
        "shared * 1.0 / (ca.n_sh + cb.n_sh - shared)",
        "jaccard",
        JACCARD_TAU,
        docs_where=docs_where,
        tail=tail,
    )


def _q136_oracle() -> str:
    from esop_spark.operators.dedup import HASH_P, minhash_coeffs

    coeffs = minhash_coeffs(32)
    sig_cols = ",\n                   ".join(
        f"MIN((x * {a} + {b}) % {HASH_P}) AS h{i}"
        for i, (a, b) in enumerate(coeffs)
    )
    match_expr = " + ".join(
        f"(CASE WHEN sa.h{i} = sb.h{i} THEN 1 ELSE 0 END)" for i in range(32)
    )
    docs_where = f"""WHERE CAST(concat('0x',
                    substr(md5('audit:' || CAST(doc_id AS VARCHAR)), 1, 8))
                    AS BIGINT) % 1000000 < {int(AUDIT_RATE * 1_000_000)}
                ORDER BY CAST(concat('0x',
                    substr(md5('audit:' || CAST(doc_id AS VARCHAR)), 1, 8))
                    AS BIGINT) % 1000000 ASC, doc_id ASC
                LIMIT {AUDIT_MAX_DOCS}"""
    return f"""
            WITH docs AS (
                SELECT doc_id, string_split(text, ' ') AS words FROM documents
                {docs_where}
            ),
            sh AS (
                SELECT DISTINCT doc_id,
                       words[i] || ' ' || words[i+1] || ' ' || words[i+2] AS shingle
                FROM docs, unnest(range(1, greatest(len(words) - 1, 1))) t(i)
            ),
            cnt AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY 1),
            pairs AS (
                SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS shared
                FROM sh a JOIN sh b
                  ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                GROUP BY 1, 2
            ),
            exact AS (
                SELECT id_a, id_b,
                       ROUND(shared * 1.0 / (ca.n_sh + cb.n_sh - shared), 6)
                           AS exact_jaccard
                FROM pairs
                JOIN cnt ca ON id_a = ca.doc_id
                JOIN cnt cb ON id_b = cb.doc_id
            ),
            hx AS (
                SELECT doc_id,
                       CAST(concat('0x', substr(md5(shingle), 1, 8)) AS BIGINT)
                           % {HASH_P} AS x
                FROM sh
            ),
            sig AS (SELECT doc_id, {sig_cols} FROM hx GROUP BY doc_id),
            scored AS (
                SELECT e.exact_jaccard,
                       ROUND(({match_expr}) / 32.0, 6) AS est
                FROM exact e
                JOIN sig sa ON e.id_a = sa.doc_id
                JOIN sig sb ON e.id_b = sb.doc_id
            ),
            s2 AS (
                SELECT exact_jaccard, est,
                       ROUND(ABS(est - exact_jaccard), 6) AS err
                FROM scored
            )
            SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
                   ROUND(SUM(CAST(ROUND(err * 1000000000) AS BIGINT)) * 1.0
                         / COUNT(*) / 1000000000.0, 6) AS mean_abs_err,
                   MAX(err) AS max_abs_err,
                   ROUND(SUM(CAST(ROUND(exact_jaccard * 1000000000) AS BIGINT))
                         * 1.0 / COUNT(*) / 1000000000.0, 6) AS mean_exact,
                   ROUND(SUM(CAST(ROUND(est * 1000000000) AS BIGINT)) * 1.0
                         / COUNT(*) / 1000000000.0, 6) AS mean_est
            FROM s2
    """


def _q69_oracle() -> str:
    return _lsh_oracle(
        "shared * 1.0 / least(ca.n_sh, cb.n_sh)",
        "containment",
        CONTAINMENT_TAU,
        bands=32,
    )


_Q24_ORACLE = """
    WITH tok AS (
        SELECT doc_id, tok, COUNT(*) AS w
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
              FROM documents)
        GROUP BY 1, 2
    ),
    th AS (
        SELECT doc_id, w,
               CAST(concat('0x', substr(md5(tok), 1, 8)) AS BIGINT) AS h
        FROM tok
    ),
    contrib AS (
        SELECT doc_id, t.j AS bit,
               SUM(CASE WHEN (h >> CAST(t.j AS INTEGER)) & 1 = 1
                        THEN w ELSE -w END) AS s
        FROM th, unnest(range(0, 32)) t(j)
        GROUP BY 1, 2
    ),
    sig AS (
        SELECT doc_id,
               CAST(SUM(CASE WHEN s > 0
                             THEN (CAST(1 AS BIGINT) << CAST(bit AS INTEGER))
                             ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS simhash
        FROM contrib GROUP BY 1
    ),
    chunks AS (
        SELECT doc_id, simhash, t.c AS chunk_idx,
               (simhash >> CAST(t.c * 8 AS INTEGER)) & 255 AS chunk_val
        FROM sig, unnest(range(0, 4)) t(c)
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
               a.simhash AS sa, b.simhash AS sb
        FROM chunks a JOIN chunks b
          ON a.chunk_idx = b.chunk_idx AND a.chunk_val = b.chunk_val
         AND a.doc_id < b.doc_id
    )
    SELECT id_a, id_b, CAST(bit_count(xor(sa, sb)) AS BIGINT) AS hamming
    FROM cand WHERE bit_count(xor(sa, sb)) <= 3
"""


# Oracle fragments for q54/q56 are concatenated (not f-strings): the PII
# regexes contain `{m,n}` repeats that f-strings would eat, and the semantic
# dedup needs a generated ±1 sign matrix shared verbatim with Spark.
_PII_DERIVED_SQL = (
    "WITH d AS (\n"
    "    SELECT doc_id, text ||\n"
    "      CASE WHEN doc_id % 7 = 0 THEN ' contact user' || doc_id || '@example.com now'\n"
    "           WHEN doc_id % 11 = 0 THEN ' node 10.0.' || (doc_id % 256) || '.25 up'\n"
    "           WHEN doc_id % 13 = 0 THEN ' ref 99' || (doc_id * 7919)\n"
    "           ELSE '' END AS text\n"
    "    FROM documents\n"
    ")\n"
)


def _pii_oracle() -> str:
    from esop_spark.operators.text import PII_DIGIT_RUN_RE, PII_EMAIL_RE, PII_IPV4_RE

    e, i, d = PII_EMAIL_RE, PII_IPV4_RE, PII_DIGIT_RUN_RE
    return (
        _PII_DERIVED_SQL
        + "SELECT CAST(doc_id AS BIGINT) AS doc_id,\n"
        + f"       CAST(len(regexp_extract_all(text, '{e}')) AS BIGINT) AS n_emails,\n"
        + f"       CAST(len(regexp_extract_all(text, '{i}')) AS BIGINT) AS n_ipv4,\n"
        + f"       CAST(len(regexp_extract_all(text, '{d}')) AS BIGINT) AS n_digit_runs,\n"
        + f"       CAST(len(regexp_extract_all(text, '{e}')) + len(regexp_extract_all(text, '{i}'))\n"
        + f"            + len(regexp_extract_all(text, '{d}')) AS BIGINT) AS n_pii,\n"
        + f"       md5(regexp_replace(regexp_replace(regexp_replace(text,\n"
        + f"           '{e}', '<EMAIL>', 'g'), '{i}', '<IP>', 'g'), '{d}', '<NUM>', 'g')) AS redacted_hash\n"
        + "FROM d"
    )


def _cosine_lsh_oracle(
    bands: int, band_planes: int, dim: int, tau: float, max_bucket: int
) -> str:
    """q301 oracle: the banded hyperplane sign buckets (per-band plane sets
    from per-band seeds, exactly similarity.banded_semantic_buckets),
    distinct candidate pairs, then exact cosine. The HAVING cap mirrors the
    engine's max_bucket as a tripwire, NOT its semantics: the engine SPLITS
    over-cap buckets (seeded key extension) where this SQL would DROP them,
    so the two agree only while no bucket exceeds the cap — true on the
    sf0.01 oracle corpus (max bucket 84 vs cap 200; precondition pinned by
    test_q301_oracle_corpus_has_no_hot_buckets). If the corpus ever grows a
    hot bucket, the oracle diverges loudly (missing pairs) instead of
    silently validating drop semantics at a slack 10^4 cap."""
    rows = ", ".join(
        f"({band}, {j}, {i + 1}, {signs_b[j][i]})"
        for band in range(bands)
        for signs_b in [similarity.hyperplane_signs(band_planes, dim, f"hp:{band}")]
        for j in range(band_planes)
        for i in range(dim)
    )
    return f"""
        WITH e AS MATERIALIZED (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
                   list_transform(CAST(embedding AS DOUBLE[]),
                                  x -> CAST(FLOOR(x * {similarity.SEM_SCALE}) AS BIGINT)) AS vq
            FROM embeddings
        ),
        signs(band, j, i, s) AS (VALUES {rows}),
        u AS (
            SELECT vec_id, t.i AS i, vq[t.i] AS val
            FROM e, unnest(range(1, {dim + 1})) t(i)
        ),
        proj AS (
            SELECT u.vec_id, signs.band, signs.j, SUM(u.val * signs.s) AS p
            FROM u JOIN signs ON signs.i = u.i
            GROUP BY 1, 2, 3
        ),
        buckets AS MATERIALIZED (
            SELECT vec_id, band,
                   SUM(CASE WHEN p > 0 THEN CAST(POW(2, j) AS BIGINT) ELSE 0 END) AS bucket
            FROM proj GROUP BY 1, 2
        ),
        small AS (
            SELECT band, bucket FROM buckets GROUP BY 1, 2
            HAVING COUNT(*) <= {max_bucket}
        ),
        memb AS MATERIALIZED (
            SELECT b.vec_id, b.band, b.bucket
            FROM buckets b JOIN small USING (band, bucket)
        ),
        cand AS MATERIALIZED (
            SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
            FROM memb a JOIN memb b
              ON a.band = b.band AND a.bucket = b.bucket
             AND a.vec_id < b.vec_id
        )
        SELECT id_a, id_b,
               ROUND(list_cosine_similarity(ea.v, eb.v), 6) AS cosine
        FROM cand
        JOIN e ea ON ea.vec_id = id_a
        JOIN e eb ON eb.vec_id = id_b
        WHERE ROUND(list_cosine_similarity(ea.v, eb.v), 6) >= {tau}
    """


def _semdedup_oracle(num_planes: int, dim: int) -> str:
    signs = similarity.hyperplane_signs(num_planes, dim)
    rows = ", ".join(
        f"({j}, {i + 1}, {signs[j][i]})" for j in range(num_planes) for i in range(dim)
    )
    return f"""
        WITH e AS (
            SELECT vec_id,
                   list_transform(CAST(embedding AS DOUBLE[]),
                                  x -> CAST(FLOOR(x * {similarity.SEM_SCALE}) AS BIGINT)) AS vq
            FROM embeddings
        ),
        signs(j, i, s) AS (VALUES {rows}),
        u AS (
            SELECT vec_id, t.i AS i, vq[t.i] AS val
            FROM e, unnest(range(1, {dim + 1})) t(i)
        ),
        proj AS (
            SELECT u.vec_id, signs.j, SUM(u.val * signs.s) AS p
            FROM u JOIN signs ON signs.i = u.i
            GROUP BY 1, 2
        ),
        buckets AS (
            SELECT vec_id,
                   SUM(CASE WHEN p > 0 THEN CAST(POW(2, j) AS BIGINT) ELSE 0 END) AS bucket
            FROM proj GROUP BY 1
        )
        SELECT CAST(bucket AS BIGINT) AS bucket,
               CAST(MIN(vec_id) AS BIGINT) AS keeper_id,
               CAST(COUNT(*) AS BIGINT) AS bucket_size
        FROM buckets GROUP BY 1
    """


def _q144_oracle() -> str:
    """Cluster-topic oracle: the q56 hyperplane-bucket CTE at TOPIC_PLANES,
    top-buckets by (size desc, bucket asc), then the q52 TF-IDF construction
    restricted to member documents (N = member count)."""
    signs = similarity.hyperplane_signs(TOPIC_PLANES, 64)
    rows = ", ".join(
        f"({j}, {i + 1}, {signs[j][i]})" for j in range(TOPIC_PLANES) for i in range(64)
    )
    return f"""
        WITH e AS (
            SELECT vec_id,
                   list_transform(CAST(embedding AS DOUBLE[]),
                                  x -> CAST(FLOOR(x * {similarity.SEM_SCALE}) AS BIGINT)) AS vq
            FROM embeddings
        ),
        signs(j, i, s) AS (VALUES {rows}),
        u AS (
            SELECT vec_id, t.i AS i, vq[t.i] AS val
            FROM e, unnest(range(1, 65)) t(i)
        ),
        proj AS (
            SELECT u.vec_id, signs.j, SUM(u.val * signs.s) AS p
            FROM u JOIN signs ON signs.i = u.i
            GROUP BY 1, 2
        ),
        buckets AS (
            SELECT vec_id,
                   SUM(CASE WHEN p > 0 THEN CAST(POW(2, j) AS BIGINT) ELSE 0 END) AS bucket
            FROM proj GROUP BY 1
        ),
        bsz AS (SELECT bucket, COUNT(*) AS n_members FROM buckets GROUP BY 1),
        top AS (
            SELECT bucket, n_members,
                   ROW_NUMBER() OVER (ORDER BY n_members DESC, bucket ASC) AS r
            FROM bsz QUALIFY r <= {TOPIC_TOP_BUCKETS}
        ),
        docs_in AS (
            SELECT d.doc_id, b.bucket, t.n_members, d.text
            FROM documents d
            JOIN buckets b ON b.vec_id = d.doc_id
            JOIN top t USING (bucket)
        ),
        n AS (SELECT COUNT(*) AS n_docs FROM docs_in),
        tok AS (
            SELECT doc_id, bucket, unnest(string_split(text, ' ')) AS term
            FROM docs_in
        ),
        df_t AS (
            SELECT term, COUNT(*) AS df
            FROM (SELECT DISTINCT doc_id, term FROM tok) GROUP BY 1
        ),
        tf AS (SELECT bucket, term, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
        scored AS (
            SELECT bucket, term, tf, df,
                   ROUND(tf * ln(n_docs * 1.0 / df), 6) AS tfidf
            FROM tf JOIN df_t USING (term), n
        ),
        ranked AS (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY bucket
                       ORDER BY tfidf DESC, term ASC) AS rank
            FROM scored QUALIFY rank <= 3
        )
        SELECT CAST(r.bucket AS BIGINT) AS bucket,
               CAST(t.n_members AS BIGINT) AS n_members,
               r.term, CAST(r.tf AS BIGINT) AS tf, CAST(r.df AS BIGINT) AS df,
               r.tfidf, CAST(r.rank AS BIGINT) AS rank
        FROM ranked r JOIN top t ON r.bucket = t.bucket
    """


def _q153_oracle() -> str:
    """Retrieval-metrics oracle: same driver-literal integer DCG gains as
    the Spark operator, cosine via the exact Spark left-fold arithmetic
    (the q149 parity lesson), rank ties on neighbor id."""
    gains = similarity._dcg_gains9(RM_K)
    cum = [sum(gains[: i + 1]) for i in range(RM_K)]
    gain_case = " ".join(
        f"WHEN rank = {i} THEN {g}" for i, g in enumerate(gains, start=1)
    )
    idcg_case = " ".join(
        f"WHEN LEAST({RM_K}, n_relevant) = {j} THEN {cum[j - 1]}"
        for j in range(1, RM_K + 1)
    )
    fold = (
        "list_reduce(list_transform(range(1, 65), i -> {a}[i] * {b}[i]),"
        " (x, y) -> x + y)"
    )
    dot_qv = fold.format(a="q.v", b="e.v")
    nrm_q = "sqrt(" + fold.format(a="q.v", b="q.v") + ")"
    nrm_e = "sqrt(" + fold.format(a="e.v", b="e.v") + ")"
    return f"""
        WITH e AS (
            SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
            FROM embeddings
        ),
        qs AS (
            SELECT vec_id, label, v,
                   CAST(concat('0x', substr(md5('rm0:'
                        || CAST(vec_id AS VARCHAR)), 1, 8)) AS BIGINT)
                        % 1000000 AS b
            FROM e
        ),
        q AS (
            SELECT vec_id AS query_id, label AS own_label, v
            FROM qs WHERE b < 100000
            ORDER BY b, vec_id LIMIT {RM_MAX_QUERIES}
        ),
        lc AS (SELECT label, COUNT(*) AS n_label FROM e GROUP BY 1),
        scored AS (
            SELECT q.query_id, q.own_label,
                   e.label = q.own_label AS rel,
                   ROUND({dot_qv} / ({nrm_q} * {nrm_e}), 6) AS cosine,
                   e.vec_id AS neighbor_id
            FROM q JOIN e ON e.vec_id <> q.query_id
        ),
        ranked AS (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                       ORDER BY cosine DESC, neighbor_id ASC) AS rank
            FROM scored QUALIFY rank <= {RM_K}
        ),
        per_q AS (
            SELECT query_id, own_label,
                   SUM(CASE WHEN rel THEN CASE {gain_case} ELSE 0 END
                       ELSE 0 END) AS dcg9,
                   SUM(CASE WHEN rel THEN 1 ELSE 0 END) AS hits_at_k,
                   MIN(CASE WHEN rel THEN rank END) AS first_rel
            FROM ranked GROUP BY 1, 2
        ),
        j AS (
            SELECT p.*, lc.n_label - 1 AS n_relevant
            FROM per_q p JOIN lc ON lc.label = p.own_label
        )
        SELECT CAST(query_id AS BIGINT) AS query_id,
               CAST(own_label AS BIGINT) AS label,
               CAST(n_relevant AS BIGINT) AS n_relevant,
               CAST(COALESCE(first_rel, 0) AS BIGINT) AS first_rel_rank,
               ROUND(CASE WHEN first_rel IS NOT NULL
                          THEN 1.0 / first_rel ELSE 0.0 END, 6) AS mrr,
               CAST(hits_at_k AS BIGINT) AS hits_at_k,
               ROUND(CASE WHEN n_relevant > 0
                          THEN dcg9 * 1.0 / (CASE {idcg_case}
                                             ELSE {cum[-1]} END)
                          ELSE 0.0 END, 6) AS ndcg_at_k
        FROM j
    """


_SCORE_T_CTE = """
            w AS (
                SELECT * , string_split(text, ' ') AS words FROM documents
            ),
            t AS (
                SELECT w.*,
                       CAST((100 * (len(words) - len(list_filter(words, x -> x IN ('a', 'the'))) + len(list_distinct(words))) + len(words)) // (2 * len(words)) AS BIGINT) AS score
                FROM w
            )
"""


# exact Spark left-fold dot product (the q149/q153 parity lesson:
# list_cosine_similarity's summation order differs at the last ulp)
_FOLD_DOT = (
    "list_reduce(list_transform(range(1, 65), i -> {a}[i] * {b}[i]),"
    " (x, y) -> x + y)"
)


def _bucket_balance_oracle(num_planes: int, dim: int) -> str:
    """q56's hyperplane-bucket CTE folded to the one-row balance report."""
    signs = similarity.hyperplane_signs(num_planes, dim)
    rows = ", ".join(
        f"({j}, {i + 1}, {signs[j][i]})"
        for j in range(num_planes)
        for i in range(dim)
    )
    return f"""
        WITH e AS (
            SELECT vec_id,
                   list_transform(CAST(embedding AS DOUBLE[]),
                                  x -> CAST(FLOOR(x * {similarity.SEM_SCALE})
                                            AS BIGINT)) AS vq
            FROM embeddings
        ),
        signs(j, i, s) AS (VALUES {rows}),
        u AS (
            SELECT vec_id, t.i AS i, vq[t.i] AS val
            FROM e, unnest(range(1, {dim + 1})) t(i)
        ),
        proj AS (
            SELECT u.vec_id, signs.j, SUM(u.val * signs.s) AS p
            FROM u JOIN signs ON signs.i = u.i
            GROUP BY 1, 2
        ),
        buckets AS (
            SELECT vec_id,
                   SUM(CASE WHEN p > 0 THEN CAST(POW(2, j) AS BIGINT)
                            ELSE 0 END) AS bucket
            FROM proj GROUP BY 1
        ),
        sz AS (SELECT bucket, COUNT(*) AS sz FROM buckets GROUP BY 1)
        SELECT CAST(COUNT(*) AS BIGINT) AS n_buckets,
               CAST(SUM(sz) AS BIGINT) AS n_vecs,
               CAST(MAX(sz) AS BIGINT) AS max_bucket,
               CAST(MIN(sz) AS BIGINT) AS min_bucket,
               CAST((MAX(sz) * COUNT(*) * 1000) // SUM(sz) AS BIGINT)
                   AS imbalance_milli
        FROM sz
    """


def _jl_oracle(proj_planes: int, max_docs: int) -> str:
    """JL audit oracle: same capped md5 sample, same ±1 sign matrix
    (seed 'jl'), integer fixed-point projections and integer dot products
    — only the final cosine divides in double (rounded 6dp), so both
    engines agree bit-for-bit."""
    signs = similarity.hyperplane_signs(proj_planes, 64, seed="jl")
    rows = ", ".join(
        f"({j}, {i + 1}, {signs[j][i]})"
        for j in range(proj_planes)
        for i in range(64)
    )
    idot64 = (
        "list_reduce(list_transform(range(1, 65), i -> {a}[i] * {b}[i]),"
        " (x, y) -> x + y)"
    )
    idotp = (
        f"list_reduce(list_transform(range(1, {proj_planes + 1}),"
        " i -> {a}[i] * {b}[i]), (x, y) -> x + y)"
    )
    return f"""
        WITH e AS (
            SELECT vec_id,
                   list_transform(CAST(embedding AS DOUBLE[]),
                       x -> CAST(FLOOR(x * {similarity.SEM_SCALE})
                                 AS BIGINT)) AS vq
            FROM embeddings
        ),
        sb AS (
            SELECT vec_id, vq,
                   CAST(concat('0x', substr(md5('jl:'
                        || CAST(vec_id AS VARCHAR)), 1, 8)) AS BIGINT)
                       % 1000000 AS b
            FROM e
        ),
        samp AS (
            SELECT vec_id AS vid, vq FROM sb ORDER BY b, vid
            LIMIT {max_docs}
        ),
        signs(j, i, sg) AS (VALUES {rows}),
        u AS (
            SELECT vid, t.i AS i, vq[t.i] AS val
            FROM samp, unnest(range(1, 65)) t(i)
        ),
        proj AS (
            SELECT u.vid, signs.j, SUM(u.val * signs.sg) AS p
            FROM u JOIN signs ON signs.i = u.i GROUP BY 1, 2
        ),
        pvt AS (
            SELECT vid, array_agg(p ORDER BY j) AS pv FROM proj GROUP BY 1
        ),
        pr AS (
            SELECT a.vid AS va, b.vid AS vb, a.vq AS q1, b.vq AS q2,
                   pa.pv AS p1, pb.pv AS p2
            FROM samp a
            JOIN samp b ON a.vid < b.vid
            JOIN pvt pa ON pa.vid = a.vid
            JOIN pvt pb ON pb.vid = b.vid
        ),
        sc AS (
            SELECT ROUND(({idot64.format(a="q1", b="q2")}) * 1.0
                         / (sqrt({idot64.format(a="q1", b="q1")})
                            * sqrt({idot64.format(a="q2", b="q2")})), 6)
                       AS cos_o,
                   ROUND(({idotp.format(a="p1", b="p2")}) * 1.0
                         / (sqrt({idotp.format(a="p1", b="p1")})
                            * sqrt({idotp.format(a="p2", b="p2")})), 6)
                       AS cos_p
            FROM pr
        ),
        er AS (
            SELECT CAST(ROUND(ABS(cos_p - cos_o) * 1000000000) AS BIGINT)
                       AS e9
            FROM sc
        )
        SELECT CAST({max_docs} AS BIGINT) AS n_docs_cap,
               CAST(COUNT(*) AS BIGINT) AS n_pairs,
               ROUND(SUM(e9) * 1.0 / COUNT(*) / 1000000000.0, 6)
                   AS mean_abs_err,
               ROUND(MAX(e9) / 1000000000.0, 6) AS max_abs_err
        FROM er
    """


def _pagerank_oracle(iters: int, k: int) -> str:
    """Unrolled-iteration integer PageRank over the part co-order graph —
    the DuckDB mirror of graph.pagerank (same nano units, same integer
    division order)."""
    ctes = [
        """
            pk AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS p
                   FROM lineitem),
            e AS (SELECT DISTINCT a.p AS src, b.p AS dst
                  FROM pk a JOIN pk b ON a.ok = b.ok AND a.p <> b.p),
            deg AS (SELECT src, COUNT(*) AS d FROM e GROUP BY 1),
            r0 AS (SELECT src AS v, d, CAST(1000000000 AS BIGINT) AS r
                   FROM deg)
        """
    ]
    for i in range(1, iters + 1):
        ctes.append(
            f"""
            c{i} AS (SELECT e.dst AS v, SUM(r{i-1}.r // r{i-1}.d) AS f
                     FROM e JOIN r{i-1} ON e.src = r{i-1}.v GROUP BY 1),
            r{i} AS (SELECT r0.v, r0.d,
                            (15000000000 + 85 * COALESCE(c{i}.f, 0)) // 100
                                AS r
                     FROM r0 LEFT JOIN c{i} USING (v))
            """
        )
    return (
        "WITH "
        + ",".join(ctes)
        + f"""
            SELECT v AS node, CAST(r AS BIGINT) AS rank_nano,
                   CAST(d AS BIGINT) AS out_deg
            FROM r{iters} ORDER BY r DESC, v LIMIT {k}
        """
    )


def _markov_oracle(steps: int, conv: str = "purchase") -> str:
    """Unrolled L-step absorbing-walk oracle for q196 — the same chain fit
    (journeys truncated at first conversion, no fitted outflow from the
    conversion state, explicit self-loop) with each walk step a CTE."""
    vs = []
    for i in range(1, steps + 1):
        vs.append(
            f"""
            v{i} AS (
                SELECT v.removed, rt.s2 AS state, SUM(v.p * rt.p) AS p
                FROM v{i-1} v
                JOIN rt ON rt.removed = v.removed AND rt.s = v.state
                GROUP BY 1, 2
            )"""
        )
    return f"""
        WITH ev AS (
            SELECT user_id, event_id, event_type,
                   CAST(FLOOR(epoch(ts)) AS BIGINT) AS ts_s
            FROM events
        ),
        conv AS (
            SELECT user_id,
                   MIN(CASE WHEN event_type = '{conv}' THEN ts_s END)
                       AS conv_ts
            FROM ev GROUP BY 1
        ),
        seq AS (
            SELECT e.user_id, e.event_type,
                   ROW_NUMBER() OVER (PARTITION BY e.user_id
                                      ORDER BY e.ts_s, e.event_id) AS rn,
                   LEAD(e.event_type) OVER (PARTITION BY e.user_id
                                            ORDER BY e.ts_s, e.event_id)
                       AS next_type
            FROM ev e JOIN conv c USING (user_id)
            WHERE c.conv_ts IS NULL OR e.ts_s <= c.conv_ts
        ),
        hops AS (
            SELECT '__START__' AS s, event_type AS s2 FROM seq WHERE rn = 1
            UNION ALL
            SELECT event_type, next_type FROM seq
            WHERE next_type IS NOT NULL AND event_type <> '{conv}'
        ),
        tc AS (SELECT s, s2, COUNT(*) AS n FROM hops GROUP BY 1, 2),
        ot AS (SELECT s, SUM(n) AS n_out FROM tc GROUP BY 1),
        trans AS (
            SELECT tc.s, tc.s2, tc.n * 1.0 / ot.n_out AS p
            FROM tc JOIN ot USING (s)
            UNION ALL SELECT '{conv}', '{conv}', 1.0
        ),
        removals AS (
            SELECT DISTINCT s2 AS removed FROM tc WHERE s2 <> '{conv}'
            UNION ALL SELECT 'NONE'
        ),
        rt AS (
            SELECT r.removed, t.s, t.s2, t.p
            FROM removals r CROSS JOIN trans t
            WHERE t.s <> r.removed AND t.s2 <> r.removed
        ),
        v0 AS (
            SELECT removed, '__START__' AS state, 1.0 AS p FROM removals
        ),
        {",".join(vs)},
        mass AS (
            SELECT removed, p FROM v{steps} WHERE state = '{conv}'
        ),
        pc AS (
            SELECT r.removed, COALESCE(mass.p, 0.0) AS p_conv
            FROM removals r LEFT JOIN mass USING (removed)
        ),
        base AS (SELECT p_conv AS p_base FROM pc WHERE removed = 'NONE')
        SELECT removed, ROUND(p_conv, 6) AS p_conv,
               ROUND(1.0 - p_conv / p_base, 6) AS removal_effect
        FROM pc CROSS JOIN base
    """


def _twonn_oracle(max_docs: int) -> str:
    """TwoNN oracle: same capped md5 'nn:' sample, exact integer squared-L2
    distances, nearest-two per point with the (dist, id) tiebreak."""
    d2 = (
        "list_reduce(list_transform(range(1, 65),"
        " i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i])), (x, y) -> x + y)"
    )
    return f"""
        WITH e AS (
            SELECT vec_id,
                   list_transform(CAST(embedding AS DOUBLE[]),
                       x -> CAST(FLOOR(x * {similarity.SEM_SCALE})
                                 AS BIGINT)) AS vq
            FROM embeddings
        ),
        sb AS (
            SELECT vec_id, vq,
                   CAST(concat('0x', substr(md5('nn:'
                        || CAST(vec_id AS VARCHAR)), 1, 8)) AS BIGINT)
                       % 1000000 AS b
            FROM e
        ),
        samp AS (
            SELECT vec_id AS vid, vq FROM sb ORDER BY b, vid
            LIMIT {max_docs}
        ),
        pr AS (
            SELECT a.vid AS vid, b.vid AS nid,
                   {d2.format(a="a.vq", b="b.vq")} AS dist2
            FROM samp a JOIN samp b ON a.vid <> b.vid
        ),
        rk AS (
            SELECT vid, dist2,
                   ROW_NUMBER() OVER (PARTITION BY vid
                                      ORDER BY dist2, nid) AS rn
            FROM pr
        ),
        two AS (
            SELECT vid,
                   MIN(CASE WHEN rn = 1 THEN dist2 END) AS d1,
                   MIN(CASE WHEN rn = 2 THEN dist2 END) AS d2
            FROM rk WHERE rn <= 2 GROUP BY 1
        ),
        lm AS (
            SELECT ln(d2 * 1.0 / d1) / 2.0 AS log_mu FROM two WHERE d1 > 0
        )
        SELECT CAST({max_docs} AS BIGINT) AS n_docs_cap,
               CAST(COUNT(*) AS BIGINT) AS n_used,
               ROUND(SUM(log_mu), 6) AS sum_log_mu,
               ROUND(COUNT(*) / SUM(log_mu), 6) AS intrinsic_dim
        FROM lm
    """


_COV_SQL = """
            WITH e AS MATERIALIZED (
                SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings
            ),
            p AS (
                SELECT ti.i - 1 AS i, tj.j - 1 AS j, v[ti.i] AS xi,
                       v[tj.j] AS xj
                FROM e,
                     unnest(range(1, len(v) + 1)) ti(i),
                     unnest(range(1, len(v) + 1)) tj(j)
                WHERE tj.j >= ti.i
            ),
            m AS MATERIALIZED (
                SELECT t.d - 1 AS d, SUM(v[t.d]) / COUNT(*) AS mean
                FROM e, unnest(range(1, len(v) + 1)) t(d)
                GROUP BY 1
            ),
            c AS (
                SELECT p.i AS dim_i, p.j AS dim_j,
                       ROUND(SUM(xi * xj) / COUNT(*) - mi.mean * mj.mean, 6)
                           + 0.0 AS cov
                FROM p
                JOIN m mi ON p.i = mi.d
                JOIN m mj ON p.j = mj.d
                GROUP BY p.i, p.j, mi.mean, mj.mean
            ),
            fm AS MATERIALIZED (
                SELECT dim_i AS i, dim_j AS j, cov FROM c
                UNION ALL
                SELECT dim_j, dim_i, cov FROM c WHERE dim_i <> dim_j
            )
"""


def _eigen_oracle(iters: int) -> str:
    """Distributed-power-iteration oracle: identical 6dp covariance
    matrix (the q96 SQL), same all-ones start, unrolled iterations,
    Rayleigh quotient / trace."""
    steps = ["v0 AS (SELECT DISTINCT i AS d, 1.0 AS val FROM fm)"]
    for k in range(1, iters + 1):
        steps.append(
            f"""v{k} AS (
                SELECT f.i AS d, SUM(f.cov * v{k-1}.val) AS val
                FROM fm f JOIN v{k-1} ON f.j = v{k-1}.d GROUP BY 1
            )"""
        )
    return (
        _COV_SQL
        + ", "
        + ",\n".join(steps)
        + f""",
            u AS (
                SELECT f.i AS d, SUM(f.cov * v{iters}.val) AS uval
                FROM fm f JOIN v{iters} ON f.j = v{iters}.d GROUP BY 1
            ),
            ray AS (
                SELECT SUM(uval * val) / SUM(val * val) AS lam
                FROM v{iters} JOIN u USING (d)
            ),
            tr AS (SELECT SUM(cov) AS trace FROM fm WHERE i = j)
            SELECT CAST({iters} AS BIGINT) AS iters,
                   ROUND(lam, 6) AS top_eigen,
                   ROUND(trace, 6) AS trace,
                   ROUND(lam / trace, 6) AS explained_share
            FROM ray CROSS JOIN tr
        """
    )


HLL_ALPHA_M2 = text_ops.HLL_ALPHA_256 * 256 * 256


def _join_advisor_oracle() -> str:
    """q279 oracle: the q232 byte model per table (strings at length,
    8 bytes per other cell), one row per JOIN_EDGES entry with the same
    broadcast-threshold rule as analytics.join_advisor."""
    models = {
        "lineitem": ("SUM(length(l_returnflag) + length(l_linestatus))"
                     " + 8 * 9 * COUNT(*)"),
        "orders": ("SUM(length(o_orderstatus) + length(o_orderpriority))"
                   " + 8 * 4 * COUNT(*)"),
        "part": ("SUM(length(p_name) + length(p_brand) + length(p_type))"
                 " + 8 * 3 * COUNT(*)"),
        "supplier": "SUM(length(s_name)) + 8 * 3 * COUNT(*)",
        "customer": ("SUM(length(c_name) + length(c_mktsegment))"
                     " + 8 * 3 * COUNT(*)"),
    }
    census = " UNION ALL ".join(
        f"SELECT '{t}' AS tbl, CAST(COUNT(*) AS BIGINT) AS n_rows,"
        f" CAST({expr} AS BIGINT) AS est_bytes FROM {t}"
        for t, expr in models.items()
    )
    thr = analytics.JOIN_BROADCAST_BYTES
    rows = " UNION ALL ".join(
        f"""SELECT '{lt}*{rt}' AS join_edge,
                   l.n_rows AS left_rows, r.n_rows AS right_rows,
                   l.est_bytes AS left_bytes, r.est_bytes AS right_bytes,
                   CASE WHEN LEAST(l.est_bytes, r.est_bytes) <= {thr}
                        THEN CASE WHEN r.est_bytes <= l.est_bytes
                                  THEN 'broadcast_right'
                                  ELSE 'broadcast_left' END
                        ELSE 'shuffle_merge' END AS strategy,
                   CAST(CASE WHEN LEAST(l.est_bytes, r.est_bytes) <= {thr}
                             THEN 0
                             ELSE l.est_bytes + r.est_bytes END
                        AS BIGINT) AS est_shuffle_bytes
            FROM (SELECT * FROM census WHERE tbl = '{lt}') l
            CROSS JOIN (SELECT * FROM census WHERE tbl = '{rt}') r"""
        for lt, rt in JOIN_EDGES
    )
    return f"WITH census AS MATERIALIZED ({census}) {rows}"


def _sqa_oracle() -> str:
    """q280 oracle: exact and bottom-k-sample type-1 quantiles as RANK
    selections over (value, id) order — the same md5 sample key as
    sampling.sample_quantile_audit."""
    h = (f"CAST(concat('0x', substr(md5('{SQA_SEED}:'"
         " || rid), 1, 8)) AS BIGINT)")
    qs = ", ".join(str(q) for q in SQA_QS)
    return f"""
            WITH vals AS MATERIALIZED (
                SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS v,
                       CAST(o_orderkey AS VARCHAR) AS rid
                FROM orders
            ),
            ranked AS (
                SELECT v, ROW_NUMBER() OVER (ORDER BY v, rid) AS rn,
                       COUNT(*) OVER () AS n
                FROM vals
            ),
            sample AS MATERIALIZED (
                SELECT v, rid FROM (
                    SELECT v, rid FROM vals
                    ORDER BY {h}, rid LIMIT {SQA_K}
                )
            ),
            s_ranked AS (
                SELECT v, ROW_NUMBER() OVER (ORDER BY v, rid) AS srn,
                       COUNT(*) OVER () AS sn
                FROM sample
            ),
            qs AS (SELECT unnest([{qs}]) AS q_milli),
            ex AS (
                SELECT q.q_milli, r.v AS exact_cents
                FROM qs q JOIN ranked r
                  ON r.rn = q.q_milli * (r.n - 1) // 1000 + 1
            ),
            sm AS (
                SELECT q.q_milli, s.v AS sample_cents
                FROM qs q JOIN s_ranked s
                  ON s.srn = q.q_milli * (s.sn - 1) // 1000 + 1
            )
            SELECT CAST(ex.q_milli AS BIGINT) AS q_milli,
                   ex.exact_cents, sm.sample_cents,
                   CAST(ROUND((sm.sample_cents - ex.exact_cents)
                              * 1000000.0 / ex.exact_cents) AS BIGINT)
                       AS err_ppm
            FROM ex JOIN sm USING (q_milli)
        """


_CARD_SCHEMAS = {
    "lineitem": (["l_returnflag", "l_linestatus"], [],
                 ["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
                  "l_quantity", "l_extendedprice", "l_discount", "l_tax",
                  "l_shipdate"]),
    "orders": (["o_orderstatus", "o_orderpriority"], [],
               ["o_orderkey", "o_custkey", "o_totalprice", "o_orderdate"]),
    "customer": (["c_name", "c_mktsegment"], [],
                 ["c_custkey", "c_nationkey", "c_acctbal"]),
    "part": (["p_name", "p_brand", "p_type"], [],
             ["p_partkey", "p_size", "p_retailprice"]),
    "supplier": (["s_name"], [], ["s_suppkey", "s_nationkey", "s_acctbal"]),
    "events": (["event_type", "props"], [],
               ["event_id", "ts", "user_id", "value"]),
    "documents": (["text", "lang", "source"], [], ["doc_id", "n_chars"]),
    "embeddings": ([], ["embedding"], ["vec_id", "label"]),
}


def _card_oracle() -> str:
    """q294 oracle: the q232 byte model + NULL-cell census per table,
    with each table's column inventory spelled out."""
    parts = []
    for t in CARD_TABLES:
        strings, arrays, fixed = _CARD_SCHEMAS[t]
        n_cols = len(strings) + len(arrays) + len(fixed)
        var_terms = [
            f"COALESCE(SUM(COALESCE(length({c}), 0)), 0)" for c in strings
        ] + [f"COALESCE(SUM(8 * COALESCE(len({c}), 0)), 0)" for c in arrays]
        var_sql = " + ".join(var_terms) if var_terms else "0"
        null_terms = " + ".join(
            f"SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END)"
            for c in strings + arrays + fixed
        )
        parts.append(f"""
            SELECT '{t}' AS "table",
                   CAST(COUNT(*) AS BIGINT) AS n_rows,
                   CAST({n_cols} AS BIGINT) AS n_cols,
                   CAST({var_sql} + 8 * {len(fixed)} * COUNT(*) AS BIGINT)
                       AS est_bytes,
                   CAST(COALESCE({null_terms}, 0) AS BIGINT) AS null_cells
            FROM {t}""")
    return " UNION ALL ".join(parts)


def _eigen2_oracle(iters: int) -> str:
    """Deflated-power-iteration oracle (q275): stage-1 loop on the 6dp
    covariance, unit v1 re-rounded to 6dp, λ1 rounded to 6dp, the deflated
    matrix re-rounded to 6dp, stage-2 loop — the same re-synchronization
    points as similarity.top2_eigen_share, so float drift cannot compound
    across stages."""
    steps = ["v0 AS (SELECT DISTINCT i AS d, 1.0 AS val FROM fm)"]
    for k in range(1, iters + 1):
        steps.append(
            f"""v{k} AS (
                SELECT f.i AS d, SUM(f.cov * v{k-1}.val) AS val
                FROM fm f JOIN v{k-1} ON f.j = v{k-1}.d GROUP BY 1
            )"""
        )
    steps.append(
        f"nrm AS (SELECT SQRT(SUM(val * val)) AS nrm FROM v{iters})"
    )
    steps.append(
        f"""v1r AS MATERIALIZED (
            SELECT d,
                   CASE WHEN nrm > 0 THEN ROUND(val / nrm, 6)
                        ELSE 0.0 END + 0.0 AS val
            FROM v{iters} CROSS JOIN nrm
        )"""
    )
    steps.append(
        """u1 AS (
            SELECT f.i AS d, SUM(f.cov * v1r.val) AS uval
            FROM fm f JOIN v1r ON f.j = v1r.d GROUP BY 1
        )"""
    )
    steps.append(
        """ray1 AS MATERIALIZED (
            SELECT CASE WHEN SUM(val * val) > 0
                        THEN ROUND(SUM(uval * val) / SUM(val * val), 6)
                        ELSE 0.0 END AS lam
            FROM v1r JOIN u1 USING (d)
        )"""
    )
    steps.append(
        """fm2 AS MATERIALIZED (
            SELECT f.i, f.j,
                   ROUND(f.cov - ray1.lam * va.val * vb.val, 6) + 0.0 AS cov
            FROM fm f
            JOIN v1r va ON f.i = va.d
            JOIN v1r vb ON f.j = vb.d
            CROSS JOIN ray1
        )"""
    )
    steps.append("w0 AS (SELECT DISTINCT i AS d, 1.0 AS val FROM fm2)")
    for k in range(1, iters + 1):
        steps.append(
            f"""w{k} AS (
                SELECT f.i AS d, SUM(f.cov * w{k-1}.val) AS val
                FROM fm2 f JOIN w{k-1} ON f.j = w{k-1}.d GROUP BY 1
            )"""
        )
    steps.append(
        f"""u2 AS (
            SELECT f.i AS d, SUM(f.cov * w{iters}.val) AS uval
            FROM fm2 f JOIN w{iters} ON f.j = w{iters}.d GROUP BY 1
        )"""
    )
    steps.append(
        f"""ray2 AS (
            SELECT CASE WHEN SUM(val * val) > 0
                        THEN ROUND(SUM(uval * val) / SUM(val * val), 6)
                        ELSE 0.0 END AS lam2
            FROM w{iters} JOIN u2 USING (d)
        )"""
    )
    steps.append("tr AS (SELECT SUM(cov) AS trace FROM fm WHERE i = j)")
    return (
        _COV_SQL
        + ", "
        + ",\n".join(steps)
        + f"""
            SELECT CAST({iters} AS BIGINT) AS iters,
                   ROUND(lam, 6) AS eigen1,
                   ROUND(lam2, 6) AS eigen2,
                   ROUND(trace, 6) AS trace,
                   ROUND(lam / trace, 6) AS share1,
                   ROUND(lam2 / trace, 6) AS share2,
                   ROUND((lam + lam2) / trace, 6) AS top2_share
            FROM ray1 CROSS JOIN ray2 CROSS JOIN tr
        """
    )


def oracle_sql() -> dict[str, str]:
    W = fx.oracle_with_clause
    return {
        "q01_list_backups": W("manifest_entries") + """
            , refcounts AS (
                SELECT object_key, COUNT(DISTINCT backup_name) AS n_backups
                FROM manifest_entries GROUP BY 1
            )
            SELECT e.backup_name, e.backup_ts,
                   CAST(COUNT(*) AS BIGINT) AS files,
                   CAST(SUM(e.size) AS BIGINT) AS size_bytes,
                   CAST(SUM(CASE WHEN r.n_backups = 1 THEN e.size ELSE 0 END) AS BIGINT)
                       AS reclaimable_bytes
            FROM manifest_entries e JOIN refcounts r USING (object_key)
            GROUP BY 1, 2
        """,
        "q02_removable_entries": W("manifest_entries") + f"""
            SELECT object_key, size FROM (
                SELECT DISTINCT object_key, size FROM manifest_entries
                WHERE backup_name = '{DIFF_BACKUP}'
            ) b
            WHERE object_key IN (
                SELECT object_key FROM manifest_entries
                GROUP BY 1 HAVING COUNT(DISTINCT backup_name) = 1
            )
        """,
        "q03_upload_diff": W("manifest_entries", "remote_objects") + f"""
            SELECT DISTINCT e.object_key, e.size
            FROM manifest_entries e
            WHERE e.backup_name = '{UPLOAD_BACKUP}'
              AND e.object_key NOT IN (SELECT object_key FROM remote_objects)
        """,
        "q04_restore_diff": W("manifest_entries", "local_files") + f"""
            , mf AS (
                SELECT DISTINCT object_key AS rel_file, size, hash
                FROM manifest_entries WHERE backup_name = '{DIFF_BACKUP}'
            )
            SELECT 'download' AS action, rel_file, size FROM mf
            WHERE rel_file NOT IN (SELECT rel_file FROM local_files)
            UNION ALL
            SELECT 'delete' AS action, rel_file, size FROM local_files
            WHERE rel_file NOT IN (SELECT rel_file FROM mf)
            UNION ALL
            SELECT 'mismatch' AS action, mf.rel_file, mf.size
            FROM mf JOIN local_files l USING (rel_file)
            WHERE mf.hash <> l.hash
        """,
        "q05_latest_manifest": W("manifests") + """
            SELECT backup_name, snapshot, schema_version, ts FROM (
                SELECT *, ROW_NUMBER() OVER (
                    PARTITION BY snapshot, schema_version
                    ORDER BY ts DESC, backup_name DESC) AS rn
                FROM manifests
            ) t WHERE rn = 1
        """,
        "q06_retention_older_than": W("manifests") + f"""
            SELECT backup_name, ts FROM manifests WHERE ts < {RETENTION_CUTOFF_MS}
        """,
        "q07_commitlog_window": W("commitlogs") + f"""
            SELECT name, ts, size FROM commitlogs
            WHERE ts >= {CL_START_MS} AND ts <= {CL_END_MS}
            UNION ALL
            SELECT name, ts, size FROM commitlogs
            WHERE ts = (SELECT MIN(ts) FROM commitlogs WHERE ts > {CL_END_MS})
        """,
        "q08_entity_filter": W("manifest_entries") + """
            SELECT keyspace, table_name,
                   CAST(COUNT(*) AS BIGINT) AS files,
                   CAST(SUM(size) AS BIGINT) AS size_bytes
            FROM manifest_entries
            WHERE ((keyspace = 'ks0' AND table_name = 't1')
                   OR (keyspace = 'ks1' AND table_name = 't3'))
              AND keyspace NOT IN
                  ('system', 'system_schema', 'system_auth',
                   'system_distributed', 'system_traces')
            GROUP BY 1, 2
        """,
        "q09_rename_remap": W("manifest_entries") + """
            SELECT
              CASE WHEN keyspace = 'ks0' AND table_name = 't1' THEN 'ks9'
                   ELSE keyspace END AS keyspace,
              CASE WHEN keyspace = 'ks0' AND table_name = 't1' THEN 't9'
                   ELSE table_name END AS table_name,
              CAST(COUNT(*) AS BIGINT) AS files
            FROM manifest_entries
            GROUP BY 1, 2
        """,
        "q10_topology_dc_racks": W("topology") + """
            SELECT dc, rack, CAST(COUNT(*) AS BIGINT) AS nodes
            FROM topology WHERE dc IN ('ASIA', 'EUROPE')
            GROUP BY 1, 2
        """,
        "q11_snapshot_merge": W("manifest_entries") + """
            SELECT keyspace, table_name,
                   CAST(COUNT(*) AS BIGINT) AS objects,
                   CAST(SUM(size) AS BIGINT) AS total_size
            FROM (
                SELECT DISTINCT keyspace, table_name, object_key, size
                FROM manifest_entries
                WHERE backup_name IN ('backup-0', 'backup-1')
            ) t
            GROUP BY 1, 2
        """,
        "q12_schema_diff": W("snapshot_schemas") + """
            SELECT a.keyspace, a.table_name,
                   a.schema_content AS schema_a, b.schema_content AS schema_b
            FROM snapshot_schemas a
            JOIN snapshot_schemas b
              ON a.keyspace = b.keyspace AND a.table_name = b.table_name
            WHERE a.backup_name = 'backup-0' AND b.backup_name = 'backup-3'
              AND a.schema_content <> b.schema_content
        """,
        "q13_filter_project": f"""
            SELECT l_orderkey, l_linenumber,
                   CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)
                       AS revenue_cents
            FROM lineitem
            WHERE epoch(l_shipdate) >= {SHIP_START_S}
              AND epoch(l_shipdate) < {SHIP_END_S}
              AND l_discount >= 0.05 AND l_discount <= 0.07
              AND l_quantity < 24
        """,
        "q14_join_agg": """
            SELECT n_name, o_orderpriority,
                   CAST(COUNT(*) AS BIGINT) AS order_count,
                   CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                       AS total_cents
            FROM orders
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            GROUP BY 1, 2
        """,
        "q15_group_agg": """
            SELECT l_returnflag, l_linestatus,
                   CAST(SUM(CAST(ROUND(l_quantity * 100) AS BIGINT)) AS BIGINT)
                       AS sum_qty_cents,
                   CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
                       AS sum_price_cents,
                   CAST(COUNT(*) AS BIGINT) AS count_rows,
                   CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS distinct_orders,
                   CAST(SUM(CAST(ROUND(l_quantity * 100) AS BIGINT)) AS DOUBLE)
                       / COUNT(*) / 100.0 AS avg_qty
            FROM lineitem
            GROUP BY 1, 2
        """,
        "q16_window_rank": """
            SELECT o_orderpriority, o_orderkey, o_totalprice, rn FROM (
                SELECT o_orderpriority, o_orderkey, o_totalprice,
                       CAST(ROW_NUMBER() OVER (
                           PARTITION BY o_orderpriority
                           ORDER BY o_totalprice DESC, o_orderkey ASC) AS BIGINT) AS rn
                FROM orders
            ) t WHERE rn <= 3
        """,
        "q17_rollup": """
            SELECT l_returnflag, l_linestatus,
                   CAST(SUM(CAST(ROUND(l_quantity * 100) AS BIGINT)) AS BIGINT)
                       AS sum_qty_cents,
                   CAST(COUNT(*) AS BIGINT) AS count_rows
            FROM lineitem
            GROUP BY ROLLUP (l_returnflag, l_linestatus)
        """,
        "q18_topk": """
            SELECT c_custkey, c_name, c_acctbal
            FROM customer
            ORDER BY c_acctbal DESC, c_custkey ASC
            LIMIT 10
        """,
        "q19_anti_semi_join": """
            SELECT n_name,
                   CAST(COUNT(*) FILTER (WHERE o.o_custkey IS NOT NULL) AS BIGINT)
                       AS with_orders,
                   CAST(COUNT(*) FILTER (
                       WHERE c_custkey IS NOT NULL AND o.o_custkey IS NULL) AS BIGINT)
                       AS without_orders
            FROM nation
            LEFT JOIN customer ON c_nationkey = n_nationkey
            LEFT JOIN (SELECT DISTINCT o_custkey FROM orders) o
                   ON c_custkey = o.o_custkey
            GROUP BY 1
        """,
        "q20_events_windows": """
            SELECT (epoch_ms(ts) // 1000 // 3600) * 3600 AS window_start_epoch,
                   event_type,
                   CAST(COUNT(*) AS BIGINT) AS events,
                   CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
                       AS value_cents
            FROM events
            GROUP BY 1, 2
        """,
        # q22 / q24 use the cross-engine md5 hash family so the seeded
        # MinHash/SimHash pipelines are replicated end-to-end in DuckDB.
        "q22_dedup_minhash_lsh": _q22_oracle(),
        "q24_simhash_pairs": _Q24_ORACLE,
        "q21_dedup_exact": """
            SELECT md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' '))
                       AS dedup_key,
                   CAST(MIN(doc_id) AS BIGINT) AS canonical_id,
                   CAST(COUNT(*) AS BIGINT) AS n_dups
            FROM documents
            GROUP BY 1
        """,
        "q23_ngram_jaccard": f"""
            WITH docs AS (
                SELECT doc_id, string_split(text, ' ') AS words FROM documents
            ),
            sh AS (
                SELECT DISTINCT doc_id,
                       words[i] || ' ' || words[i+1] || ' ' || words[i+2] AS shingle
                FROM docs, unnest(range(1, greatest(len(words) - 1, 1))) t(i)
            ),
            cnt AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY 1),
            shared AS (
                SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS shared
                FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                GROUP BY 1, 2
            )
            SELECT id_a, id_b,
                   ROUND(shared * 1.0 / (ca.n_sh + cb.n_sh - shared), 6) AS jaccard
            FROM shared
            JOIN cnt ca ON id_a = ca.doc_id
            JOIN cnt cb ON id_b = cb.doc_id
            WHERE ROUND(shared * 1.0 / (ca.n_sh + cb.n_sh - shared), 6) >= {JACCARD_TAU}
        """,
        "q25_embedding_neardup": f"""
            WITH e AS (
                SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
            )
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   ROUND(list_cosine_similarity(a.v, b.v), 6) AS cosine
            FROM e a JOIN e b ON a.vec_id < b.vec_id
            WHERE ROUND(list_cosine_similarity(a.v, b.v), 6) >= {COSINE_TAU}
        """,
        "q26_ann_topk": f"""
            WITH e AS (
                SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
            ),
            scored AS (
                SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
                       ROUND(list_cosine_similarity(q.v, e.v), 6) AS cosine
                FROM e q JOIN e ON q.vec_id <> e.vec_id
                WHERE q.vec_id < {len(ANN_QUERY_IDS)}
            )
            SELECT query_id, neighbor_id, cosine,
                   CAST(ROW_NUMBER() OVER (
                       PARTITION BY query_id
                       ORDER BY cosine DESC, neighbor_id ASC) AS BIGINT) AS rank
            FROM scored
            QUALIFY rank <= {ANN_K}
        """,
        "q27_lang_id": """
            WITH s AS (
                SELECT doc_id,
                       len(list_filter(string_split(text, ' '),
                           w -> w IN ('und','der','die','das','nicht'))) AS s_de,
                       len(list_filter(string_split(text, ' '),
                           w -> w IN ('the','a','of','and','is'))) AS s_en,
                       len(list_filter(string_split(text, ' '),
                           w -> w IN ('el','los','y','que','una'))) AS s_es,
                       len(list_filter(string_split(text, ' '),
                           w -> w IN ('le','la','et','les','une'))) AS s_fr
                FROM documents
            )
            SELECT doc_id,
                   CASE WHEN greatest(s_de, s_en, s_es, s_fr) = 0 THEN 'unknown'
                        WHEN s_de = greatest(s_de, s_en, s_es, s_fr) THEN 'de'
                        WHEN s_en = greatest(s_de, s_en, s_es, s_fr) THEN 'en'
                        WHEN s_es = greatest(s_de, s_en, s_es, s_fr) THEN 'es'
                        ELSE 'fr' END AS pred_lang,
                   CAST(greatest(s_de, s_en, s_es, s_fr) AS BIGINT) AS best_score
            FROM s
        """,
        "q28_quality_score": """
            WITH t AS (
                SELECT doc_id,
                       len(string_split(text, ' ')) AS n,
                       len(list_filter(string_split(text, ' '),
                           w -> w IN ('a', 'the'))) AS stop,
                       len(list_distinct(string_split(text, ' '))) AS nd
                FROM documents
            )
            SELECT doc_id,
                   CAST(n AS BIGINT) AS n_tokens,
                   ROUND(stop * 1.0 / n, 6) AS stopword_ratio,
                   ROUND(nd * 1.0 / n, 6) AS type_token_ratio,
                   CAST((100 * (n - stop + nd) + n) // (2 * n) AS BIGINT) AS quality_score
            FROM t
        """,
        "q29_token_stats": """
            SELECT doc_id,
                   CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
                   CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_distinct,
                   CAST(length(text) AS BIGINT) AS n_chars_text
            FROM documents
        """,
        "q30_fingerprint": """
            SELECT doc_id,
                   md5(text) AS fingerprint,
                   md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' '))
                       AS tokenset_key,
                   substr(md5(text), 1, 2) AS shard
            FROM documents
        """,
        "q31_multimodal_decode": """
            SELECT doc_id AS media_id,
                   CASE WHEN doc_id % 2 = 0 THEN 'image' ELSE 'audio' END AS media_type,
                   CAST(strlen(text) AS BIGINT) AS n_bytes,
                   CAST(strlen(text) % 317 AS BIGINT) AS width,
                   CAST(strlen(text) // 317 AS BIGINT) AS height,
                   CAST(list_sum(list_transform(range(1, least(length(text), 64) + 1),
                        i -> ord(substr(text, CAST(i AS INTEGER), 1)))) AS BIGINT) AS checksum
            FROM documents
        """,
        "q32_cube": """
            SELECT l_returnflag, l_linestatus,
                   CAST(SUM(CAST(ROUND(l_quantity * 100) AS BIGINT)) AS BIGINT)
                       AS sum_qty_cents,
                   CAST(COUNT(*) AS BIGINT) AS count_rows
            FROM lineitem
            GROUP BY CUBE (l_returnflag, l_linestatus)
        """,
        "q33_sliding_windows": """
            SELECT ws - k * 900 AS window_start_epoch,
                   CAST(COUNT(*) AS BIGINT) AS events
            FROM (
                SELECT (epoch_ms(ts) // 1000 // 900) * 900 AS ws FROM events
            ), unnest([0, 1]) t(k)
            GROUP BY 1
        """,
        "q34_storage_location": r"""
            SELECT regexp_extract(loc, '(\w+):\/\/([^\/]+)\/([^\/]+)\/([^\/]+)\/([^\/]+)\/?', 1) AS protocol,
                   regexp_extract(loc, '(\w+):\/\/([^\/]+)\/([^\/]+)\/([^\/]+)\/([^\/]+)\/?', 2) AS bucket,
                   regexp_extract(loc, '(\w+):\/\/([^\/]+)\/([^\/]+)\/([^\/]+)\/([^\/]+)\/?', 3) AS cluster,
                   regexp_extract(loc, '(\w+):\/\/([^\/]+)\/([^\/]+)\/([^\/]+)\/([^\/]+)\/?', 4) AS dc,
                   regexp_extract(loc, '(\w+):\/\/([^\/]+)\/([^\/]+)\/([^\/]+)\/([^\/]+)\/?', 5) AS node
            FROM (
                SELECT 'node-' || lower(n_name) || '-' || CAST(n_nationkey AS STRING) AS hostname,
                       r_name AS dc2,
                       's3://bucket1/cluster1/' || r_name || '/' ||
                       'node-' || lower(n_name) || '-' || CAST(n_nationkey AS STRING) AS loc
                FROM nation JOIN region ON n_regionkey = r_regionkey
            )
        """,
        "q35_import_join": W("local_tables") + """
            SELECT e.keyspace, e.table_name, e.files,
                   lt.table_id AS local_table_id, lt.path
            FROM (
                SELECT keyspace, table_name, CAST(COUNT(*) AS BIGINT) AS files
                FROM manifest_entries WHERE backup_name = 'backup-0'
                GROUP BY 1, 2
            ) e
            JOIN local_tables lt
              ON e.keyspace = lt.keyspace AND e.table_name = lt.table_name
        """,
        "q36_asof_join": """
            SELECT p.event_id, p.user_id,
                   epoch_ms(p.ts) AS ts_ms,
                   epoch_ms(e.ts) AS last_error_ms
            FROM (SELECT * FROM events WHERE event_type = 'purchase') p
            ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'error') e
              ON p.user_id = e.user_id AND p.ts >= e.ts
        """,
        "q37_sessions": """
            WITH marked AS (
                SELECT user_id, event_id, epoch_ms(ts) AS ts_ms,
                       CASE WHEN lag(epoch_ms(ts)) OVER w IS NULL
                              OR epoch_ms(ts) - lag(epoch_ms(ts)) OVER w > 1800000
                            THEN 1 ELSE 0 END AS new_session
                FROM events
                WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
            )
            SELECT user_id, session_id,
                   CAST(MIN(ts_ms) AS BIGINT) AS session_start_ms,
                   CAST(COUNT(*) AS BIGINT) AS n_events
            FROM (
                SELECT user_id, ts_ms,
                       CAST(SUM(new_session) OVER (
                           PARTITION BY user_id ORDER BY ts_ms ASC, event_id ASC
                           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
                FROM marked
            )
            GROUP BY 1, 2
        """,
        "q38_percentiles": """
            SELECT o_orderpriority,
                   ROUND(quantile_cont(o_totalprice, 0.5), 4) AS p50,
                   ROUND(quantile_cont(o_totalprice, 0.95), 4) AS p95,
                   CAST(COUNT(*) AS BIGINT) AS n
            FROM orders
            GROUP BY 1
        """,
        "q39_chunking": """
            WITH words AS (
                SELECT doc_id, string_split(text, ' ') AS w FROM documents
            ),
            chunks AS (
                SELECT doc_id,
                       CAST(t.i AS BIGINT) AS chunk_idx,
                       array_to_string(w[1 + t.i * 40 : 1 + t.i * 40 + 49], ' ') AS chunk_text
                FROM words,
                     unnest(range(0, CAST(ceil(greatest(len(w) - 1, 1) / 40.0) AS BIGINT))) t(i)
            )
            SELECT doc_id, chunk_idx,
                   CAST(len(string_split(chunk_text, ' ')) AS BIGINT) AS chunk_tokens,
                   md5(chunk_text) AS chunk_hash
            FROM chunks
            WHERE chunk_text <> ''
        """,
        "q40_curation": """
            WITH scored AS (
                SELECT doc_id,
                       md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' '))
                           AS dedup_key,
                       CAST((100 * (len(string_split(text, ' ')) - len(list_filter(string_split(text, ' '), w -> w IN ('a', 'the'))) + len(list_distinct(string_split(text, ' ')))) + len(string_split(text, ' '))) // (2 * len(string_split(text, ' '))) AS BIGINT) AS quality_score,
                       len(list_filter(string_split(text, ' '),
                           w -> w IN ('the', 'a', 'of', 'and', 'is'))) AS s_en,
                       greatest(
                           len(list_filter(string_split(text, ' '),
                               w -> w IN ('und','der','die','das','nicht'))),
                           len(list_filter(string_split(text, ' '),
                               w -> w IN ('the','a','of','and','is'))),
                           len(list_filter(string_split(text, ' '),
                               w -> w IN ('el','los','y','que','una'))),
                           len(list_filter(string_split(text, ' '),
                               w -> w IN ('le','la','et','les','une')))) AS best
                FROM documents
            ),
            survivors AS (
                -- pred_lang = 'en' iff s_en = best > 0 (de/es/fr marker
                -- tokens do not occur in this corpus's vocabulary, so the
                -- alphabetical tiebreak cannot select them)
                SELECT * FROM scored
                WHERE quality_score >= 55 AND best > 0 AND s_en = best
            )
            SELECT CAST(MIN(doc_id) AS BIGINT) AS doc_id, dedup_key,
                   CAST(COUNT(*) AS BIGINT) AS n_dups,
                   CAST(MAX(quality_score) AS BIGINT) AS quality_score
            FROM survivors
            GROUP BY dedup_key
        """,
        "q41_range_join": """
            SELECT o.o_orderkey,
                   CAST(COUNT(*) AS BIGINT) AS shipments_in_window
            FROM (SELECT o_orderkey, epoch(o_orderdate) AS ws FROM orders
                  WHERE o_orderkey % 100 = 0) o
            JOIN (SELECT epoch(l_shipdate) AS ship_s FROM lineitem) l
              ON l.ship_s >= o.ws AND l.ship_s <= o.ws + 7 * 86400
            GROUP BY 1
        """,
        "q42_grouping_sets": """
            SELECT l_returnflag, l_linestatus,
                   CAST(GROUPING(l_returnflag) AS BIGINT) AS g_flag,
                   CAST(GROUPING(l_linestatus) AS BIGINT) AS g_status,
                   CAST(COUNT(*) AS BIGINT) AS count_rows
            FROM lineitem
            GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        """,
        "q43_pivot": """
            SELECT l_returnflag,
                   CAST(COUNT(*) FILTER (WHERE l_linestatus = 'F') AS BIGINT) AS status_f,
                   CAST(COUNT(*) FILTER (WHERE l_linestatus = 'O') AS BIGINT) AS status_o
            FROM lineitem
            GROUP BY 1
        """,
        "q45_global_listing": W("fleet_manifest_entries") + """
            , refcounts AS (
                SELECT dc, node, object_key,
                       COUNT(DISTINCT backup_name) AS n_backups
                FROM fleet_manifest_entries GROUP BY 1, 2, 3
            )
            SELECT e.dc, e.node, e.backup_name, e.backup_ts,
                   CAST(COUNT(*) AS BIGINT) AS files,
                   CAST(SUM(e.size) AS BIGINT) AS size_bytes,
                   CAST(SUM(CASE WHEN r.n_backups = 1 THEN e.size ELSE 0 END)
                        AS BIGINT) AS reclaimable_bytes
            FROM fleet_manifest_entries e
            JOIN refcounts r USING (dc, node, object_key)
            GROUP BY 1, 2, 3, 4
        """,
        "q46_global_removal": W("fleet_manifest_entries") + f"""
            , victims AS (
                SELECT DISTINCT dc, node, backup_name
                FROM fleet_manifest_entries WHERE backup_ts < {FLEET_CUTOFF_MS}
            ),
            vic_objs AS (
                SELECT DISTINCT e.dc, e.node, e.object_key, e.size
                FROM fleet_manifest_entries e
                JOIN victims v USING (dc, node, backup_name)
            ),
            sur_objs AS (
                SELECT DISTINCT e.dc, e.node, e.object_key
                FROM fleet_manifest_entries e
                ANTI JOIN victims v
                  ON e.dc = v.dc AND e.node = v.node
                 AND e.backup_name = v.backup_name
            ),
            removable AS (
                SELECT vo.* FROM vic_objs vo
                ANTI JOIN sur_objs s
                  ON vo.dc = s.dc AND vo.node = s.node
                 AND vo.object_key = s.object_key
            )
            SELECT v.dc, v.node,
                   CAST(v.backups_removed AS BIGINT) AS backups_removed,
                   CAST(COALESCE(r.objects_removed, 0) AS BIGINT) AS objects_removed,
                   CAST(COALESCE(r.bytes_removed, 0) AS BIGINT) AS bytes_removed
            FROM (SELECT dc, node, COUNT(*) AS backups_removed
                  FROM victims GROUP BY 1, 2) v
            LEFT JOIN (SELECT dc, node, COUNT(*) AS objects_removed,
                              SUM(size) AS bytes_removed
                       FROM removable GROUP BY 1, 2) r USING (dc, node)
        """,
        "q44_setops": """
            SELECT CAST(nationkey AS BIGINT) AS nationkey, 'customers_only' AS tag
            FROM (SELECT DISTINCT c_nationkey AS nationkey FROM customer
                  EXCEPT
                  SELECT DISTINCT s_nationkey FROM supplier)
            UNION ALL
            SELECT CAST(nationkey AS BIGINT) AS nationkey, 'both' AS tag
            FROM (SELECT DISTINCT c_nationkey AS nationkey FROM customer
                  INTERSECT
                  SELECT DISTINCT s_nationkey FROM supplier)
        """,
        # end-to-end check of the REAL container codec: the Spark side
        # builds + parses genuine BMP/WAV bytes; the oracle recomputes the
        # metadata those headers must carry straight from documents
        "q47_container_decode": """
            SELECT doc_id AS media_id,
                   CASE WHEN doc_id % 2 = 0 THEN 'bmp' ELSE 'wav' END AS container,
                   CASE WHEN doc_id % 2 = 0
                        THEN CAST(strlen(text) % 31 + 1 AS BIGINT) END AS width,
                   CASE WHEN doc_id % 2 = 0
                        THEN CAST((strlen(text) // 31) % 31 + 1 AS BIGINT) END AS height,
                   CASE WHEN doc_id % 2 = 0 THEN CAST(3 AS BIGINT)
                        WHEN doc_id % 4 = 1 THEN CAST(1 AS BIGINT)
                        ELSE CAST(2 AS BIGINT) END AS channels,
                   CASE WHEN doc_id % 2 = 1
                        THEN CAST(CASE WHEN doc_id % 8 < 4 THEN 8000 ELSE 16000 END
                                  AS BIGINT) END AS sample_rate,
                   CASE WHEN doc_id % 2 = 0
                        THEN CAST((strlen(text) % 31 + 1)
                                  * ((strlen(text) // 31) % 31 + 1) AS BIGINT)
                        ELSE CAST(strlen(text) AS BIGINT) END AS n_frames
            FROM documents
        """,
        # connected components via recursive transitive closure over the
        # same exact-Jaccard pair list q23 checks (UNION dedups rows, so the
        # recursion terminates); component id = min reachable doc id
        "q48_dedup_clusters": _CC_CORE + """
            SELECT CAST(doc_id AS BIGINT) AS doc_id,
                   CAST(cluster_id AS BIGINT) AS cluster_id,
                   CAST(COUNT(*) OVER (PARTITION BY cluster_id) AS BIGINT)
                       AS cluster_size
            FROM comp
        """,
        "q49_contamination": """
            WITH docs AS (
                SELECT doc_id, string_split(text, ' ') AS words FROM documents
            ),
            sh AS (
                SELECT DISTINCT doc_id,
                       words[i] || ' ' || words[i+1] || ' ' || words[i+2] AS shingle
                FROM docs, unnest(range(1, greatest(len(words) - 1, 1))) t(i)
            ),
            train_sh AS (
                SELECT DISTINCT shingle FROM sh WHERE doc_id % 2 = 0
            ),
            test_cnt AS (
                SELECT doc_id, COUNT(*) AS n_sh FROM sh
                WHERE doc_id % 2 = 1 GROUP BY 1
            ),
            matched AS (
                SELECT doc_id, COUNT(*) AS n_contaminated
                FROM sh
                WHERE doc_id % 2 = 1
                  AND shingle IN (SELECT shingle FROM train_sh)
                GROUP BY 1
            )
            SELECT CAST(c.doc_id AS BIGINT) AS doc_id,
                   CAST(c.n_sh AS BIGINT) AS n_sh,
                   CAST(COALESCE(m.n_contaminated, 0) AS BIGINT) AS n_contaminated,
                   ROUND(COALESCE(m.n_contaminated, 0) * 1.0
                         / GREATEST(c.n_sh, 1), 6) AS contamination
            FROM test_cnt c LEFT JOIN matched m ON c.doc_id = m.doc_id
        """,
        # same cross-engine md5 bucket as Spark's sampling.sample_bucket:
        # first 8 hex chars of md5('s0:' || key) as int, mod 1e6
        "q50_stratified_sample": f"""
            WITH b AS (
                SELECT doc_id, lang, source,
                       CAST(concat('0x', substr(md5('s0:' || CAST(doc_id AS VARCHAR)), 1, 8))
                            AS BIGINT) % 1000000 AS bucket
                FROM documents
            )
            SELECT doc_id, lang, source FROM b
            WHERE bucket < CASE lang
                WHEN 'de' THEN {int(SAMPLE_RATES['de'] * 1000000)}
                WHEN 'en' THEN {int(SAMPLE_RATES['en'] * 1000000)}
                WHEN 'fr' THEN {int(SAMPLE_RATES['fr'] * 1000000)}
                ELSE {int(SAMPLE_DEFAULT * 1000000)} END
        """,
        "q51_sample_k_per_stratum": f"""
            WITH b AS (
                SELECT doc_id, lang,
                       CAST(concat('0x', substr(md5('s0:' || CAST(doc_id AS VARCHAR)), 1, 8))
                            AS BIGINT) % 1000000 AS bucket
                FROM documents
            )
            SELECT doc_id, lang FROM (
                SELECT doc_id, lang,
                       ROW_NUMBER() OVER (PARTITION BY lang
                           ORDER BY bucket ASC, CAST(doc_id AS VARCHAR) ASC) AS rn
                FROM b
            ) WHERE rn <= {SAMPLE_K}
        """,
        "q52_tfidf_top_terms": f"""
            WITH tok AS (
                SELECT doc_id, lang, unnest(string_split(text, ' ')) AS term
                FROM documents
            ),
            df_t AS (
                SELECT term, COUNT(*) AS df
                FROM (SELECT DISTINCT doc_id, term FROM tok) GROUP BY 1
            ),
            tf AS (
                SELECT lang, term, COUNT(*) AS tf FROM tok GROUP BY 1, 2
            ),
            n AS (SELECT COUNT(*) AS n_docs FROM documents),
            scored AS (
                SELECT lang, term, tf, df,
                       ROUND(tf * ln(n_docs * 1.0 / df), 6) AS tfidf
                FROM tf JOIN df_t USING (term), n
            )
            SELECT lang, term, CAST(tf AS BIGINT) AS tf,
                   CAST(df AS BIGINT) AS df, tfidf,
                   CAST(rank AS BIGINT) AS rank
            FROM (
                SELECT *, ROW_NUMBER() OVER (PARTITION BY lang
                           ORDER BY tfidf DESC, term ASC) AS rank
                FROM scored
            ) WHERE rank <= {TFIDF_K}
        """,
        # same IEEE arithmetic order as the Spark lambdas: scale = max|x|/127
        # (left-fold max), codes = round(x/scale), mse = fold of e² / d
        "q53_quantize_int8": """
            WITH e AS (
                SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
            ),
            s AS (
                SELECT vec_id, v,
                       list_aggregate(list_transform(v, x -> abs(x)), 'max')
                           / 127.0 AS scale
                FROM e
            ),
            r AS (
                SELECT vec_id, v, scale,
                       list_transform(v, x -> CASE WHEN scale = 0 THEN 0.0
                           ELSE x - ROUND(x / scale, 0) * scale END) AS err
                FROM s
            )
            SELECT vec_id,
                   CAST(len(v) AS BIGINT) AS n_dims,
                   CAST(FLOOR(scale * 1e9) AS BIGINT) AS scale_e9,
                   CAST(FLOOR(CAST(list_aggregate(
                             list_transform(err, x -> CAST(x * x AS DECIMAL(38,24))),
                             'sum') AS DOUBLE)
                         / len(v) * 1e9) AS BIGINT) AS mse_e9
            FROM r
        """,
        "q54_pii_scan": _pii_oracle(),
        "q55_boilerplate": """
            WITH docs AS (
                SELECT doc_id, string_split(text, ' ') AS words FROM documents
            ),
            segs AS (
                SELECT doc_id,
                       list_aggregate(words[i:i+9], 'string_agg', ' ') AS seg
                FROM docs, unnest(range(1, len(words) + 1, 10)) t(i)
            ),
            nonempty AS (SELECT * FROM segs WHERE seg <> ''),
            segdf AS (
                SELECT seg, COUNT(DISTINCT doc_id) AS seg_docs
                FROM nonempty GROUP BY 1
            )
            SELECT CAST(s.doc_id AS BIGINT) AS doc_id,
                   CAST(COUNT(*) AS BIGINT) AS n_segments,
                   CAST(SUM(CASE WHEN d.seg_docs >= 3 THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_boilerplate,
                   ROUND(SUM(CASE WHEN d.seg_docs >= 3 THEN 1 ELSE 0 END) * 1.0
                         / COUNT(*), 6) AS boilerplate_frac
            FROM nonempty s JOIN segdf d USING (seg)
            GROUP BY 1
        """,
        "q56_semantic_dedup": _semdedup_oracle(SEMDEDUP_PLANES, 64),
        "q57_mixture_resample": f"""
            WITH w(lang, w) AS (VALUES
                ('de', 250000), ('en', 300000), ('es', 250000), ('fr', 200000)
            ),
            counts AS (
                SELECT d.lang, COUNT(*) AS n, ANY_VALUE(w.w) AS w
                FROM documents d JOIN w ON d.lang = w.lang
                GROUP BY 1
            ),
            c2 AS (SELECT lang, n, w, (n * 1000000) // w AS feasible FROM counts),
            t AS (SELECT MIN(feasible) AS t FROM c2),
            keeps AS (SELECT lang, (t.t * w) // 1000000 AS keep FROM c2, t),
            ranked AS (
                SELECT doc_id, d.lang, source,
                       ROW_NUMBER() OVER (
                           PARTITION BY d.lang
                           ORDER BY CAST(CONCAT('0x', SUBSTR(md5('s0:' || doc_id), 1, 8)) AS BIGINT)
                                    % 1000000 ASC,
                                    CAST(doc_id AS VARCHAR) ASC
                       ) AS rn
                FROM documents d JOIN w ON d.lang = w.lang
            )
            SELECT CAST(doc_id AS BIGINT) AS doc_id, lang, source
            FROM ranked JOIN keeps USING (lang)
            WHERE rn <= keep
        """,
        # temperature alpha=0.5: integer weights FLOOR(sqrt(n*1e6)) ==
        # Python isqrt(n*1e6); then the q57 all-integer mixture machinery
        "q75_temperature_resample": """
            WITH counts0 AS (
                SELECT lang, COUNT(*) AS n FROM documents GROUP BY 1
            ),
            w AS (
                SELECT lang, n,
                       CAST(FLOOR(sqrt(CAST(n AS DOUBLE) * 1000000)) AS BIGINT) AS w
                FROM counts0
            ),
            c2 AS (SELECT lang, n, w, (n * 1000000) // w AS feasible FROM w),
            t AS (SELECT MIN(feasible) AS t FROM c2),
            keeps AS (SELECT lang, n, (t.t * w) // 1000000 AS keep FROM c2, t),
            ranked AS (
                SELECT doc_id, lang,
                       ROW_NUMBER() OVER (
                           PARTITION BY lang
                           ORDER BY CAST(CONCAT('0x', SUBSTR(md5('s0:' || doc_id), 1, 8)) AS BIGINT)
                                    % 1000000 ASC,
                                    CAST(doc_id AS VARCHAR) ASC
                       ) AS rn
                FROM documents
            ),
            kept AS (
                SELECT r.lang, COUNT(*) AS n_kept
                FROM ranked r JOIN keeps k USING (lang)
                WHERE r.rn <= k.keep GROUP BY 1
            )
            SELECT w.lang,
                   CAST(w.n AS BIGINT) AS n_before,
                   CAST(COALESCE(kept.n_kept, 0) AS BIGINT) AS n_kept,
                   ROUND(COALESCE(kept.n_kept, 0) * 1.0 / w.n, 6) AS kept_frac
            FROM w LEFT JOIN kept USING (lang)
        """,
        "q76_source_cap": f"""
            WITH ranked AS (
                SELECT source, doc_id,
                       ROW_NUMBER() OVER (
                           PARTITION BY source
                           ORDER BY CAST(CONCAT('0x', SUBSTR(md5('s0:' || doc_id), 1, 8)) AS BIGINT)
                                    % 1000000 ASC,
                                    CAST(doc_id AS VARCHAR) ASC
                       ) AS rn
                FROM documents
            )
            SELECT source,
                   CAST(COUNT(*) AS BIGINT) AS n_before,
                   CAST(SUM(CASE WHEN rn <= {SOURCE_CAP_K} THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_kept
            FROM ranked GROUP BY source
        """,
        "q77_slice_divergence": """
            WITH tok AS (
                SELECT source AS s, unnest(string_split(text, ' ')) AS t
                FROM documents
            ),
            st AS (SELECT s, t, COUNT(*) AS c_st FROM tok GROUP BY 1, 2),
            t_tot AS (SELECT t, SUM(c_st) AS c_t FROM st GROUP BY 1),
            s_tot AS (SELECT s, SUM(c_st) AS n_s FROM st GROUP BY 1),
            grand AS (SELECT SUM(n_s) AS n_total FROM s_tot)
            SELECT st.s AS source,
                   CAST(s_tot.n_s AS BIGINT) AS n_tokens,
                   ROUND(SUM((st.c_st * 1.0 / s_tot.n_s)
                             * LN((st.c_st * 1.0 / s_tot.n_s)
                                  / (t_tot.c_t * 1.0 / grand.n_total))), 6) AS kl
            FROM st JOIN t_tot USING (t) JOIN s_tot USING (s), grand
            GROUP BY st.s, s_tot.n_s
        """,
        "q79_weighted_sample": """
            WITH t AS (
                SELECT doc_id, lang,
                       len(string_split(text, ' ')) AS n,
                       len(list_filter(string_split(text, ' '),
                           w -> w IN ('a', 'the'))) AS stop,
                       len(list_distinct(string_split(text, ' '))) AS nd
                FROM documents
            ),
            scored AS (
                SELECT doc_id, lang,
                       CAST((100 * (n - stop + nd) + n) // (2 * n) AS BIGINT)
                           AS quality_score,
                       CAST(concat('0x', substr(md5('s0:' || CAST(doc_id AS VARCHAR)), 1, 8))
                            AS BIGINT) % 1000000 AS bucket
                FROM t
            )
            SELECT doc_id, lang, quality_score
            FROM scored
            WHERE bucket * 100 < quality_score * 1000000
        """,
        "q78_winnow_fingerprints": """
            WITH docs AS (
                SELECT doc_id, string_split(text, ' ') AS words FROM documents
            ),
            kg AS (
                SELECT doc_id, CAST(i AS BIGINT) AS pos,
                       CAST(CONCAT('0x', SUBSTR(md5(
                           list_aggregate(words[i:i+3], 'string_agg', ' ')
                       ), 1, 8)) AS BIGINT) AS h
                FROM docs,
                     unnest(range(1, GREATEST(len(words) - 3, 0) + 1)) t(i)
            ),
            comb AS (
                SELECT doc_id, pos, h * 1048576 + (1048576 - pos) AS c FROM kg
            ),
            sel AS (
                SELECT doc_id,
                       MIN(c) OVER (PARTITION BY doc_id ORDER BY pos
                                    ROWS BETWEEN CURRENT ROW AND 4 FOLLOWING) AS fp
                FROM comb
            ),
            fp AS (SELECT DISTINCT doc_id, fp FROM sel)
            SELECT doc_id,
                   CAST(COUNT(*) AS BIGINT) AS n_fp,
                   CAST(SUM(fp) AS BIGINT) AS fp_checksum
            FROM fp GROUP BY doc_id
        """,
        "q58_repeated_ngrams": f"""
            WITH docs AS (
                SELECT doc_id, string_split(text, ' ') AS words FROM documents
            ),
            spans AS (
                SELECT doc_id,
                       list_aggregate(words[i:i+{NGRAM_SPAN_N - 1}], 'string_agg', ' ') AS span,
                       len(words[i:i+{NGRAM_SPAN_N - 1}]) AS span_len
                FROM docs,
                     unnest(range(1, GREATEST(len(words) - {NGRAM_SPAN_N - 1}, 1) + 1)) t(i)
            ),
            agg AS (
                SELECT span,
                       COUNT(*) AS n_occ,
                       COUNT(DISTINCT doc_id) AS span_docs
                FROM spans WHERE span_len = {NGRAM_SPAN_N}
                GROUP BY 1
                HAVING COUNT(DISTINCT doc_id) >= 2
            )
            SELECT md5(span) AS span_hash,
                   CAST(span_docs AS BIGINT) AS span_docs,
                   CAST(n_occ AS BIGINT) AS n_occ
            FROM agg
            ORDER BY span_docs DESC, n_occ DESC, span ASC
            LIMIT {NGRAM_SPAN_K}
        """,
        "q59_bm25": f"""
            WITH stats AS (
                SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
                       AVG(len(string_split(text, ' '))) AS avgdl
                FROM documents
            ),
            toks AS (
                SELECT doc_id,
                       CAST(len(string_split(text, ' ')) AS BIGINT) AS dl,
                       unnest(string_split(text, ' ')) AS term
                FROM documents
            ),
            tf AS (
                SELECT doc_id, term,
                       CAST(COUNT(*) AS DOUBLE) AS tf,
                       ANY_VALUE(dl) AS dl
                FROM toks
                WHERE term IN ('spark', 'hash', 'window')
                GROUP BY 1, 2
            ),
            dft AS (
                SELECT term, CAST(COUNT(*) AS DOUBLE) AS df FROM tf GROUP BY 1
            )
            SELECT CAST(tf.doc_id AS BIGINT) AS doc_id,
                   ROUND(SUM(
                       LN(1.0 + (n_docs - df + 0.5) / (df + 0.5))
                       * tf * 2.2
                       / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))
                   ), 6) AS bm25
            FROM tf JOIN dft USING (term), stats
            GROUP BY 1
            ORDER BY bm25 DESC, doc_id ASC
            LIMIT {BM25_K}
        """,
        "q60_oov_rate": f"""
            WITH tok AS (
                SELECT doc_id, unnest(string_split(text, ' ')) AS term
                FROM documents
            ),
            vocab AS (
                SELECT term FROM tok GROUP BY 1
                ORDER BY COUNT(*) DESC, term ASC LIMIT {VOCAB_K}
            ),
            base AS (
                SELECT doc_id,
                       CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
                FROM documents
            ),
            inv AS (
                SELECT doc_id, COUNT(*) AS n_in_vocab
                FROM tok WHERE term IN (SELECT term FROM vocab)
                GROUP BY 1
            )
            SELECT CAST(b.doc_id AS BIGINT) AS doc_id,
                   b.n_tokens,
                   CAST(COALESCE(i.n_in_vocab, 0) AS BIGINT) AS n_in_vocab,
                   ROUND((b.n_tokens - COALESCE(i.n_in_vocab, 0)) * 1.0
                         / b.n_tokens, 6) AS oov_rate
            FROM base b LEFT JOIN inv i ON b.doc_id = i.doc_id
        """,
        "q61_unigram_logprob": """
            WITH tok AS (
                SELECT doc_id, unnest(string_split(text, ' ')) AS term
                FROM documents
            ),
            tf AS (SELECT term, COUNT(*) AS n FROM tok GROUP BY 1),
            total AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM tf)
            SELECT CAST(tok.doc_id AS BIGINT) AS doc_id,
                   CAST(COUNT(*) AS BIGINT) AS n_tokens,
                   ROUND(-SUM(LN(n * 1.0 / total)) / COUNT(*), 6) AS mean_nll
            FROM tok JOIN tf USING (term), total
            GROUP BY 1
        """,
        "q62_release_gate": f"""
            WITH sig AS (
                SELECT doc_id, source,
                       md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' '))
                           AS dk,
                       CAST((100 * (len(string_split(text, ' ')) - len(list_filter(string_split(text, ' '), w -> w IN ('a', 'the'))) + len(list_distinct(string_split(text, ' ')))) + len(string_split(text, ' '))) // (2 * len(string_split(text, ' '))) AS BIGINT) AS quality,
                       len(list_filter(string_split(text, ' '),
                           w -> w IN ('und','der','die','das','nicht'))) AS s_de,
                       len(list_filter(string_split(text, ' '),
                           w -> w IN ('the','a','of','and','is'))) AS s_en,
                       len(list_filter(string_split(text, ' '),
                           w -> w IN ('el','los','y','que','una'))) AS s_es,
                       len(list_filter(string_split(text, ' '),
                           w -> w IN ('le','la','et','les','une'))) AS s_fr
                FROM documents
            ),
            langed AS (
                SELECT *, CASE WHEN greatest(s_de, s_en, s_es, s_fr) = 0 THEN 'unknown'
                               WHEN s_de = greatest(s_de, s_en, s_es, s_fr) THEN 'de'
                               WHEN s_en = greatest(s_de, s_en, s_es, s_fr) THEN 'en'
                               WHEN s_es = greatest(s_de, s_en, s_es, s_fr) THEN 'es'
                               ELSE 'fr' END AS pred_lang
                FROM sig
            ),
            docs2 AS (
                SELECT doc_id, string_split(text, ' ') AS words FROM documents
            ),
            segs AS (
                SELECT doc_id,
                       list_aggregate(words[i:i+9], 'string_agg', ' ') AS seg
                FROM docs2, unnest(range(1, len(words) + 1, 10)) t(i)
            ),
            nonempty AS (SELECT * FROM segs WHERE seg <> ''),
            segdf AS (
                SELECT seg, COUNT(DISTINCT doc_id) AS seg_docs
                FROM nonempty GROUP BY 1
            ),
            boiler AS (
                SELECT s.doc_id,
                       ROUND(SUM(CASE WHEN d.seg_docs >= 3 THEN 1 ELSE 0 END) * 1.0
                             / COUNT(*), 6) AS bf
                FROM nonempty s JOIN segdf d USING (seg)
                GROUP BY 1
            ),
            flagged AS (
                SELECT l.source, l.doc_id, l.dk,
                       l.quality >= {GATE_MIN_QUALITY}
                           AND l.pred_lang = 'en'
                           AND b.bf <= {GATE_MAX_BOILER} AS pre,
                       l.quality, l.pred_lang, b.bf
                FROM langed l JOIN boiler b USING (doc_id)
            ),
            keepers AS (
                SELECT *, MIN(CASE WHEN pre THEN doc_id END)
                              OVER (PARTITION BY dk) AS keeper
                FROM flagged
            ),
            gated AS (
                SELECT source,
                       CASE WHEN quality < {GATE_MIN_QUALITY} THEN 'quality_fail'
                            WHEN pred_lang <> 'en' THEN 'lang_fail'
                            WHEN bf > {GATE_MAX_BOILER} THEN 'boiler_fail'
                            WHEN doc_id <> keeper THEN 'dup_drop'
                            ELSE 'released' END AS gate
                FROM keepers
            )
            SELECT source,
                   CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(CASE WHEN gate = 'quality_fail' THEN 1 ELSE 0 END) AS BIGINT) AS n_quality_fail,
                   CAST(SUM(CASE WHEN gate = 'lang_fail' THEN 1 ELSE 0 END) AS BIGINT) AS n_lang_fail,
                   CAST(SUM(CASE WHEN gate = 'boiler_fail' THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler_fail,
                   CAST(SUM(CASE WHEN gate = 'dup_drop' THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_drop,
                   CAST(SUM(CASE WHEN gate = 'released' THEN 1 ELSE 0 END) AS BIGINT) AS n_released
            FROM gated
            GROUP BY 1
        """,
        "q63_embedding_dim_stats": """
            WITH e AS (
                SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
            ),
            u AS (
                SELECT CAST(t.i - 1 AS BIGINT) AS dim, v[t.i] AS x
                FROM e, unnest(range(1, 65)) t(i)
            )
            SELECT dim,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   ROUND(MIN(x), 6) AS min_x,
                   ROUND(MAX(x), 6) AS max_x,
                   ROUND(SUM(x) / COUNT(*), 6) AS mean_x,
                   ROUND(SUM(x * x) / COUNT(*), 6) AS mean_sq
            FROM u GROUP BY 1
        """,
        # same cross-engine md5 bucket as sampling.sample_bucket, seed 'split0';
        # cumulative thresholds 0.8 / 0.9 of 1e6 buckets
        "q64_train_split": f"""
            WITH b AS (
                SELECT lang AS stratum,
                       CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
                       CAST(concat('0x', substr(md5('split0:' || CAST(doc_id AS VARCHAR)), 1, 8))
                            AS BIGINT) % 1000000 AS bucket
                FROM documents
            ),
            a AS (
                SELECT CASE WHEN bucket < {int(0.8 * 1000000)} THEN 'train'
                            WHEN bucket < {int((0.8 + 0.1) * 1000000)} THEN 'val'
                            ELSE 'test' END AS split,
                       stratum, n_tokens
                FROM b
            ),
            per AS (
                SELECT split, stratum,
                       CAST(COUNT(*) AS BIGINT) AS n_docs,
                       CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens
                FROM a GROUP BY 1, 2
            )
            SELECT split, stratum, n_docs, sum_tokens,
                   ROUND(n_docs * 1.0 / SUM(n_docs) OVER (PARTITION BY stratum), 6)
                       AS stratum_share
            FROM per
        """,
        "q65_shard_packing": f"""
            WITH d AS (
                SELECT doc_id,
                       CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
                FROM documents
            ),
            c AS (
                SELECT doc_id, n_tokens,
                       CAST(SUM(n_tokens) OVER (ORDER BY doc_id) AS BIGINT) AS cum
                FROM d
            )
            SELECT CAST((cum - n_tokens) // {SHARD_BUDGET} AS BIGINT) AS shard_id,
                   CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
                   CAST(MIN(doc_id) AS BIGINT) AS first_doc,
                   CAST(MAX(doc_id) AS BIGINT) AS last_doc,
                   ROUND(CAST(SUM(n_tokens) AS BIGINT) / {float(SHARD_BUDGET)}, 6)
                       AS fill_ratio
            FROM c GROUP BY 1
        """,
        "q66_bigram_logprob": f"""
            WITH docs AS (
                SELECT doc_id, string_split(text, ' ') AS words FROM documents
            ),
            pairs AS (
                SELECT doc_id, words[t.i] AS w1, words[t.i + 1] AS w2
                FROM docs, unnest(range(1, len(words))) t(i)
            ),
            bc AS (SELECT w1, w2, COUNT(*) AS n12 FROM pairs GROUP BY 1, 2),
            hc AS (SELECT w1, COUNT(*) AS n1 FROM pairs GROUP BY 1),
            vv AS (SELECT COUNT(DISTINCT w2) AS nv FROM pairs)
            SELECT CAST(p.doc_id AS BIGINT) AS doc_id,
                   CAST(COUNT(*) AS BIGINT) AS n_bigrams,
                   ROUND(-SUM(LN((n12 + {BIGRAM_ADD_K}) / (n1 + {BIGRAM_ADD_K} * nv)))
                         / COUNT(*), 6) AS mean_nll
            FROM pairs p JOIN bc USING (w1, w2) JOIN hc USING (w1), vv
            GROUP BY 1
        """,
        "q67_gopher_rules": """
            WITH w AS (
                SELECT source, string_split(text, ' ') AS words FROM documents
            ),
            m AS (
                SELECT source,
                       len(words) AS n_words,
                       list_sum(list_transform(words, x -> length(x))) * 1.0
                           / len(words) AS mean_word_len,
                       len(list_filter(words, x -> x IN ('#', '...'))) * 1.0
                           / len(words) AS symbol_frac,
                       len(list_filter(words, x -> x IN ('a', 'the'))) AS stopword_hits
                FROM w
            ),
            f AS (
                SELECT source,
                       CASE WHEN n_words < 30 THEN 1 ELSE 0 END AS f_too_short,
                       CASE WHEN n_words > 100000 THEN 1 ELSE 0 END AS f_too_long,
                       CASE WHEN mean_word_len < 2.0 OR mean_word_len > 10.0
                            THEN 1 ELSE 0 END AS f_word_len,
                       CASE WHEN symbol_frac > 0.1 THEN 1 ELSE 0 END AS f_symbol,
                       CASE WHEN stopword_hits < 2 THEN 1 ELSE 0 END AS f_stopword
                FROM m
            )
            SELECT source,
                   CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(f_too_short) AS BIGINT) AS n_too_short,
                   CAST(SUM(f_too_long) AS BIGINT) AS n_too_long,
                   CAST(SUM(f_word_len) AS BIGINT) AS n_word_len,
                   CAST(SUM(f_symbol) AS BIGINT) AS n_symbol,
                   CAST(SUM(f_stopword) AS BIGINT) AS n_stopword,
                   CAST(SUM(CASE WHEN f_too_short + f_too_long + f_word_len
                                      + f_symbol + f_stopword = 0
                                 THEN 1 ELSE 0 END) AS BIGINT) AS n_pass
            FROM f GROUP BY 1
        """,
        # centers = k smallest md5 buckets of vec_id (seed 'kc:'), assignment =
        # argmax cosine rounded to 6dp with center-id tiebreak
        "q68_kcenter_assign": f"""
            WITH e AS (
                SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
            ),
            centers AS (
                SELECT vec_id AS center_id, v AS cv
                FROM (
                    SELECT vec_id, v,
                           CAST(concat('0x', substr(md5('kc:' || CAST(vec_id AS VARCHAR)), 1, 8))
                                AS BIGINT) % 1000000 AS bucket
                    FROM e
                )
                ORDER BY bucket ASC, center_id ASC LIMIT {KCENTER_K}
            ),
            scored AS (
                SELECT e.vec_id, c.center_id,
                       ROUND(list_cosine_similarity(e.v, c.cv), 6) AS cos
                FROM e, centers c
            ),
            best AS (
                SELECT vec_id, center_id, cos,
                       ROW_NUMBER() OVER (PARTITION BY vec_id
                           ORDER BY cos DESC, center_id ASC) AS rn
                FROM scored
            )
            SELECT CAST(center_id AS BIGINT) AS center_id,
                   CAST(COUNT(*) AS BIGINT) AS n_members,
                   ROUND(SUM(CAST(ROUND(cos * 1000000) AS BIGINT)) * 1.0
                         / COUNT(*) / 1000000.0, 6) AS mean_cos,
                   CAST(MIN(vec_id) AS BIGINT) AS min_member
            FROM best WHERE rn = 1 GROUP BY 1
        """,
        "q69_containment_dedup": _q69_oracle(),
        "q74_dup_span_coverage": f"""
            WITH docs AS (
                SELECT doc_id, string_split(text, ' ') AS words FROM documents
            ),
            base AS (
                SELECT doc_id, CAST(len(words) AS BIGINT) AS n_tokens FROM docs
            ),
            spans AS (
                SELECT doc_id, CAST(i AS BIGINT) AS pos,
                       list_aggregate(words[i:i+{NGRAM_SPAN_N - 1}], 'string_agg', ' ') AS span
                FROM docs,
                     unnest(range(1, GREATEST(len(words) - {NGRAM_SPAN_N - 1}, 0) + 1)) t(i)
                WHERE len(words) >= {NGRAM_SPAN_N}
            ),
            hot AS (
                SELECT span FROM (
                    SELECT span, COUNT(DISTINCT doc_id) AS d FROM spans GROUP BY 1
                ) WHERE d >= 2
            ),
            hp AS (
                SELECT doc_id, pos,
                       LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
                FROM spans WHERE span IN (SELECT span FROM hot)
            ),
            cov AS (
                SELECT doc_id,
                       CAST(SUM(CASE WHEN prev IS NULL THEN {NGRAM_SPAN_N}
                                     ELSE LEAST({NGRAM_SPAN_N}, pos - prev) END)
                            AS BIGINT) AS covered
                FROM hp GROUP BY 1
            )
            SELECT CAST(b.doc_id AS BIGINT) AS doc_id, b.n_tokens,
                   CAST(COALESCE(c.covered, 0) AS BIGINT) AS covered_tokens,
                   ROUND(COALESCE(c.covered, 0) * 1.0 / b.n_tokens, 6) AS dup_frac
            FROM base b LEFT JOIN cov c USING (doc_id)
        """,
        "q71_corpus_diff": """
            WITH v2 AS (
                SELECT doc_id,
                       CASE WHEN doc_id % 5 = 0 THEN text || ' v2' ELSE text END AS text
                FROM documents WHERE doc_id % 7 <> 0
                UNION ALL
                SELECT doc_id + 1000000 AS doc_id, text || ' new' AS text
                FROM documents WHERE doc_id % 11 = 0
            ),
            a AS (SELECT doc_id, md5(text) AS h1 FROM documents),
            b AS (SELECT doc_id, md5(text) AS h2 FROM v2),
            st AS (
                SELECT COALESCE(a.doc_id, b.doc_id) AS doc_id,
                       CASE WHEN h1 IS NULL THEN 'added'
                            WHEN h2 IS NULL THEN 'removed'
                            WHEN h1 <> h2 THEN 'changed'
                            ELSE 'unchanged' END AS status
                FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id
            )
            SELECT status,
                   CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(MIN(doc_id) AS BIGINT) AS min_id,
                   CAST(MAX(doc_id) AS BIGINT) AS max_id
            FROM st GROUP BY 1
        """,
        # same integer quality score formula as quality_score/q62
        "q72_quality_cdf": """
            WITH s AS (
                SELECT CAST((100 * (len(string_split(text, ' ')) - len(list_filter(string_split(text, ' '), w -> w IN ('a', 'the'))) + len(list_distinct(string_split(text, ' ')))) + len(string_split(text, ' '))) // (2 * len(string_split(text, ' '))) AS BIGINT) AS quality_score
                FROM documents
            ),
            h AS (SELECT quality_score, CAST(COUNT(*) AS BIGINT) AS n_docs
                  FROM s GROUP BY 1),
            t AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS total FROM h)
            SELECT quality_score, n_docs,
                   CAST(SUM(n_docs) OVER (ORDER BY quality_score) AS BIGINT) AS cum_docs,
                   ROUND(CAST(SUM(n_docs) OVER (ORDER BY quality_score) AS BIGINT)
                         * 1.0 / total, 6) AS cum_frac
            FROM h, t
        """,
        "q73_embedding_outliers": f"""
            WITH e AS (
                SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
            ),
            u AS (
                SELECT vec_id, CAST(t.i - 1 AS BIGINT) AS dim, v[t.i] AS x
                FROM e, unnest(range(1, 65)) t(i)
            ),
            st AS (
                SELECT dim, SUM(x) / COUNT(*) AS mu,
                       sqrt(greatest(SUM(x * x) / COUNT(*)
                            - (SUM(x) / COUNT(*)) * (SUM(x) / COUNT(*)), 0)) AS sd
                FROM u GROUP BY 1
            ),
            z AS (
                SELECT u.vec_id, ROUND(abs(u.x - st.mu) / nullif(st.sd, 0), 6) AS z
                FROM u JOIN st USING (dim)
            )
            SELECT CAST(vec_id AS BIGINT) AS vec_id,
                   MAX(z) AS max_absz,
                   CAST(SUM(CASE WHEN z > {Z_THRESH} THEN 1 ELSE 0 END) AS BIGINT) AS n_over,
                   MAX(z) > {Z_THRESH} AS is_outlier
            FROM z GROUP BY 1
        """,
        "q70_bpe_token_stats": """
            SELECT CAST(doc_id AS BIGINT) AS doc_id,
                   CAST(len(regexp_extract_all(text,
                        '[A-Za-z]{1,4}|[0-9]|[^A-Za-z0-9 ]')) AS BIGINT) AS n_pieces,
                   CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
                   ROUND(len(regexp_extract_all(text,
                         '[A-Za-z]{1,4}|[0-9]|[^A-Za-z0-9 ]')) * 1.0
                         / len(string_split(text, ' ')), 6) AS fertility
            FROM documents
        """,
        "q80_chunk_dedup": f"""
            WITH docs AS (
                SELECT doc_id, string_split(text, ' ') AS words FROM documents
            ),
            ch AS (
                SELECT doc_id,
                       CAST((t.s - 1) / {CHUNK_DEDUP_TOKENS} AS BIGINT) AS chunk_idx,
                       md5(list_aggregate(
                           words[t.s:t.s + {CHUNK_DEDUP_TOKENS} - 1],
                           'string_agg', ' ')) AS chunk_hash
                FROM docs,
                     unnest(range(1, greatest(len(words) - 1, 1) + 1,
                                  {CHUNK_DEDUP_TOKENS})) t(s)
            ),
            occ AS (
                SELECT doc_id, chunk_hash,
                       doc_id * 1000000 + chunk_idx AS occ_key
                FROM ch
            ),
            freq AS (
                SELECT chunk_hash, COUNT(*) AS n_occ, MIN(occ_key) AS first_key
                FROM occ GROUP BY 1
            )
            SELECT CAST(o.doc_id AS BIGINT) AS doc_id,
                   CAST(COUNT(*) AS BIGINT) AS n_chunks,
                   CAST(SUM(CASE WHEN f.n_occ > 1 THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_dup_chunks,
                   CAST(SUM(CASE WHEN o.occ_key != f.first_key THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_removable,
                   ROUND(SUM(CASE WHEN f.n_occ > 1 THEN 1 ELSE 0 END) * 1.0
                         / COUNT(*), 6) AS dup_frac
            FROM occ o JOIN freq f USING (chunk_hash)
            GROUP BY o.doc_id
        """,
        "q81_bloom_decontaminate": f"""
            WITH docs AS (
                SELECT doc_id, source, string_split(text, ' ') AS words
                FROM documents
            ),
            sh AS (
                SELECT DISTINCT doc_id, source,
                       words[t.i] || ' ' || words[t.i+1] || ' ' || words[t.i+2]
                           AS shingle
                FROM docs, unnest(range(1, greatest(len(words) - 1, 1))) t(i)
            ),
            eval_sh AS (
                SELECT DISTINCT shingle FROM sh
                WHERE source IN {EVAL_SOURCES!r}
            ),
            train_cnt AS (
                SELECT doc_id, COUNT(*) AS n_sh FROM sh
                WHERE source NOT IN {EVAL_SOURCES!r} GROUP BY 1
            ),
            matched AS (
                SELECT doc_id, COUNT(*) AS n_contaminated
                FROM sh
                WHERE source NOT IN {EVAL_SOURCES!r}
                  AND shingle IN (SELECT shingle FROM eval_sh)
                GROUP BY 1
            )
            SELECT CAST(c.doc_id AS BIGINT) AS doc_id,
                   CAST(c.n_sh AS BIGINT) AS n_sh,
                   CAST(COALESCE(m.n_contaminated, 0) AS BIGINT) AS n_contaminated,
                   ROUND(COALESCE(m.n_contaminated, 0) * 1.0
                         / GREATEST(c.n_sh, 1), 6) AS contamination
            FROM train_cnt c LEFT JOIN matched m ON c.doc_id = m.doc_id
        """,
        "q82_dsir_importance": f"""
            WITH tok AS (
                SELECT doc_id, lang = 'en' AS is_t,
                       CAST(concat('0x', substr(md5(t.w), 1, 8)) AS BIGINT)
                           % {DSIR_BUCKETS} AS b
                FROM (SELECT doc_id, lang,
                             unnest(string_split(text, ' ')) AS w
                      FROM documents) t
            ),
            stats AS (
                SELECT b,
                       SUM(CASE WHEN is_t THEN 1 ELSE 0 END) AS c_t,
                       COUNT(*) AS c_r
                FROM tok GROUP BY 1
            ),
            tot AS (SELECT SUM(c_t) AS n_t, SUM(c_r) AS n_r FROM stats)
            SELECT CAST(tok.doc_id AS BIGINT) AS doc_id,
                   CAST(COUNT(*) AS BIGINT) AS n_tokens,
                   ROUND(SUM(LN((s.c_t + 1.0) / (tot.n_t + {DSIR_BUCKETS}))
                             - LN((s.c_r + 1.0) / (tot.n_r + {DSIR_BUCKETS})))
                         / COUNT(*), 6) AS dsir_score
            FROM tok JOIN stats s USING (b), tot
            GROUP BY tok.doc_id
        """,
        "q83_conjunctive_search": f"""
            WITH tok AS (
                SELECT doc_id, unnest(string_split(text, ' ')) AS term
                FROM documents
            )
            SELECT CAST(doc_id AS BIGINT) AS doc_id,
                   CAST(COUNT(*) AS BIGINT) AS total_tf
            FROM tok
            WHERE term IN {SEARCH_TERMS!r}
            GROUP BY doc_id
            HAVING COUNT(DISTINCT term) = {len(SEARCH_TERMS)}
        """,
        "q84_canonical_reps": f"""
            WITH RECURSIVE docs AS (
                SELECT doc_id, string_split(text, ' ') AS words FROM documents
            ),
            sh AS (
                SELECT DISTINCT doc_id,
                       words[i] || ' ' || words[i+1] || ' ' || words[i+2] AS shingle
                FROM docs, unnest(range(1, greatest(len(words) - 1, 1))) t(i)
            ),
            cnt AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY 1),
            shared AS (
                SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS shared
                FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                GROUP BY 1, 2
            ),
            pairs AS (
                SELECT id_a, id_b
                FROM shared
                JOIN cnt ca ON id_a = ca.doc_id
                JOIN cnt cb ON id_b = cb.doc_id
                WHERE ROUND(shared * 1.0 / (ca.n_sh + cb.n_sh - shared), 6)
                      >= {JACCARD_TAU}
            ),
            edges AS (
                SELECT id_a AS src, id_b AS dst FROM pairs
                UNION
                SELECT id_b, id_a FROM pairs
            ),
            reach(src, dst) AS (
                SELECT src, dst FROM edges
                UNION
                SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
            ),
            comp AS (
                SELECT src AS doc_id, LEAST(src, MIN(dst)) AS cluster_id
                FROM reach GROUP BY src
            ),
            q AS (
                SELECT doc_id,
                       CAST((100 * (len(string_split(text, ' ')) - len(list_filter(string_split(text, ' '), w -> w IN ('a', 'the'))) + len(list_distinct(string_split(text, ' ')))) + len(string_split(text, ' '))) // (2 * len(string_split(text, ' '))) AS BIGINT) AS quality_score
                FROM documents
            ),
            j AS (
                SELECT c.cluster_id, c.doc_id, q.quality_score,
                       q.quality_score * 1000000000 - c.doc_id AS ordkey
                FROM comp c JOIN q USING (doc_id)
            )
            SELECT CAST(cluster_id AS BIGINT) AS cluster_id,
                   CAST(arg_max(doc_id, ordkey) AS BIGINT) AS rep_doc_id,
                   CAST(MAX(quality_score) AS BIGINT) AS rep_score,
                   CAST(COUNT(*) AS BIGINT) AS cluster_size,
                   CAST(COUNT(*) - 1 AS BIGINT) AS n_dropped
            FROM j GROUP BY cluster_id
        """,
        "q85_centroid_purity": """
            WITH e AS (
                SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
                FROM embeddings
            ),
            dims AS (
                SELECT e.label AS clabel, t.i AS dim, e.v[t.i] AS x
                FROM e, unnest(range(1, len(e.v) + 1)) t(i)
            ),
            cent AS (
                SELECT clabel, dim,
                       ROUND(SUM(CAST(ROUND(x * 1000000000) AS BIGINT)) * 1.0
                             / COUNT(*) / 1000000000.0, 6) AS c
                FROM dims GROUP BY 1, 2
            ),
            cv AS (
                SELECT clabel, list(c ORDER BY dim) AS cvec
                FROM cent GROUP BY 1
            ),
            scored AS (
                SELECT e.vec_id, e.label,
                       cv.clabel,
                       ROUND(list_cosine_similarity(e.v, cv.cvec), 6) AS cos
                FROM e CROSS JOIN cv
            ),
            best AS (
                SELECT vec_id, label,
                       -((max(struct_pack(c := cos, nc := -clabel))).nc)
                           AS pred_label,
                       (max(struct_pack(c := cos, nc := -clabel))).c AS cos
                FROM scored GROUP BY 1, 2
            )
            SELECT CAST(label AS BIGINT) AS label,
                   CAST(COUNT(*) AS BIGINT) AS n_members,
                   CAST(SUM(CASE WHEN pred_label = label THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_correct,
                   ROUND(SUM(CASE WHEN pred_label = label THEN 1 ELSE 0 END)
                         * 1.0 / COUNT(*), 6) AS purity,
                   ROUND(SUM(CAST(ROUND(cos * 1000000) AS BIGINT)) * 1.0
                         / COUNT(*) / 1000000.0, 6) AS mean_cos
            FROM best GROUP BY label
        """,
        "q86_slice_overlap": """
            WITH docs AS (
                SELECT doc_id, source, string_split(text, ' ') AS words
                FROM documents
            ),
            sh AS (
                SELECT DISTINCT source AS s,
                       words[i] || ' ' || words[i+1] || ' ' || words[i+2] AS shingle
                FROM docs, unnest(range(1, greatest(len(words) - 1, 1))) t(i)
            ),
            cnt AS (SELECT s, COUNT(*) AS n_sh FROM sh GROUP BY 1),
            sharedcte AS (
                SELECT a.s AS sa, b.s AS sb, COUNT(*) AS n_shared
                FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.s < b.s
                GROUP BY 1, 2
            )
            SELECT sa AS slice_a, sb AS slice_b,
                   CAST(ca.n_sh AS BIGINT) AS n_a,
                   CAST(cb.n_sh AS BIGINT) AS n_b,
                   CAST(n_shared AS BIGINT) AS shared,
                   ROUND(n_shared * 1.0 / LEAST(ca.n_sh, cb.n_sh), 6) AS overlap
            FROM sharedcte
            JOIN cnt ca ON sa = ca.s
            JOIN cnt cb ON sb = cb.s
        """,
        "q87_novelty": """
            WITH docs AS (
                SELECT doc_id, string_split(text, ' ') AS words FROM documents
            ),
            sh AS (
                SELECT DISTINCT doc_id,
                       words[i] || ' ' || words[i+1] || ' ' || words[i+2] AS shingle
                FROM docs, unnest(range(1, greatest(len(words) - 1, 1))) t(i)
            ),
            first AS (
                SELECT shingle, MIN(doc_id) AS f FROM sh GROUP BY 1
            )
            SELECT CAST(sh.doc_id AS BIGINT) AS doc_id,
                   CAST(COUNT(*) AS BIGINT) AS n_sh,
                   CAST(SUM(CASE WHEN first.f = sh.doc_id THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_novel,
                   ROUND(SUM(CASE WHEN first.f = sh.doc_id THEN 1 ELSE 0 END)
                         * 1.0 / COUNT(*), 6) AS novelty
            FROM sh JOIN first USING (shingle)
            GROUP BY sh.doc_id
        """,
        "q88_zipf_fit": f"""
            WITH tf AS (
                SELECT t.w AS t, COUNT(*) AS c
                FROM (SELECT unnest(string_split(text, ' ')) AS w
                      FROM documents) t
                GROUP BY 1
            ),
            top AS (
                SELECT t, c FROM tf ORDER BY c DESC, t ASC LIMIT {ZIPF_TOP_V}
            ),
            xy AS (
                SELECT LN(CAST(ROW_NUMBER() OVER (ORDER BY c DESC, t ASC)
                               AS DOUBLE)) AS x,
                       LN(CAST(c AS DOUBLE)) AS y
                FROM top
            ),
            agg AS (
                SELECT COUNT(*) * 1.0 AS n, SUM(x) AS sx, SUM(y) AS sy,
                       SUM(x * y) AS sxy, SUM(x * x) AS sxx
                FROM xy
            )
            SELECT CAST(n AS BIGINT) AS n_terms,
                   ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope,
                   ROUND((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx)
                         / n, 6) AS intercept
            FROM agg
        """,
        "q89_incremental_dedup": _lsh_oracle(
            "shared * 1.0 / (ca.n_sh + cb.n_sh - shared)",
            "jaccard",
            JACCARD_TAU,
            cand_pred="a.doc_id % 2 = 0 AND b.doc_id % 2 = 1",
            id_names=("id_old", "id_new"),
        ),
        "q90_cms_heavy_hitters": f"""
            WITH tok AS (
                SELECT unnest(string_split(text, ' ')) AS t FROM documents
            ),
            seeds AS (
                SELECT * FROM (VALUES {', '.join(f'({d})' for d in range(CMS_DEPTH))}) s(d)
            ),
            rows_ AS (
                SELECT t, seeds.d AS d,
                       CAST(concat('0x', substr(md5('cms' || seeds.d || ':' || t),
                                                1, 8)) AS BIGINT)
                           % {CMS_WIDTH} AS b
                FROM tok, seeds
            ),
            sketch AS (SELECT d, b, COUNT(*) AS c FROM rows_ GROUP BY 1, 2),
            exact AS (
                SELECT t, COUNT(*) AS exact_c FROM tok GROUP BY 1
                ORDER BY exact_c DESC, t ASC LIMIT {CMS_TOP_K}
            ),
            probes AS (
                SELECT e.t, e.exact_c, seeds.d AS d,
                       CAST(concat('0x', substr(md5('cms' || seeds.d || ':' || e.t),
                                                1, 8)) AS BIGINT)
                           % {CMS_WIDTH} AS b
                FROM exact e, seeds
            )
            SELECT p.t AS term,
                   CAST(p.exact_c AS BIGINT) AS exact_c,
                   CAST(MIN(s.c) AS BIGINT) AS est_c
            FROM probes p JOIN sketch s USING (d, b)
            GROUP BY 1, 2
        """,
        "q91_pmi_collocations": f"""
            WITH wsrc AS (
                SELECT string_split(text, ' ') AS ws FROM documents
            ),
            bi AS (
                SELECT ws[t.i] AS w1, ws[t.i + 1] AS w2
                FROM wsrc, unnest(range(1, len(ws))) t(i)
            ),
            uni AS (
                SELECT unnest(string_split(text, ' ')) AS w FROM documents
            ),
            cb AS (SELECT w1, w2, COUNT(*) AS c_xy FROM bi GROUP BY 1, 2),
            cu AS (SELECT w, COUNT(*) AS c_w FROM uni GROUP BY 1),
            t1 AS (SELECT COUNT(*) * 1.0 AS n FROM uni),
            t2 AS (SELECT COUNT(*) * 1.0 AS nb FROM bi)
            SELECT cb.w1 AS w1, cb.w2 AS w2,
                   CAST(cb.c_xy AS BIGINT) AS c_xy,
                   ROUND(LN((cb.c_xy / nb)
                            / ((cx.c_w / n) * (cy.c_w / n))), 6) AS pmi
            FROM cb
            JOIN cu cx ON cb.w1 = cx.w
            JOIN cu cy ON cb.w2 = cy.w, t1, t2
            WHERE cb.c_xy >= {PMI_MIN_COUNT}
            ORDER BY pmi DESC, w1 ASC, w2 ASC
            LIMIT {PMI_TOP_K}
        """,
        "q92_score_drift_psi": f"""
            WITH q AS (
                SELECT source AS s,
                       CAST(LEAST({PSI_BINS - 1}, FLOOR(
                           CAST((100 * (len(string_split(text, ' ')) - len(list_filter(string_split(text, ' '), w -> w IN ('a', 'the'))) + len(list_distinct(string_split(text, ' ')))) + len(string_split(text, ' '))) // (2 * len(string_split(text, ' '))) AS BIGINT)
                           * {PSI_BINS} / 100)) AS INT) AS bin
                FROM documents
            ),
            sb AS (SELECT s, bin, COUNT(*) AS c_sb FROM q GROUP BY 1, 2),
            dense AS (
                SELECT sl.s, t.bin, COALESCE(sb.c_sb, 0) AS c_sb
                FROM (SELECT DISTINCT s FROM sb) sl
                CROSS JOIN (SELECT CAST(t.i AS INT) AS bin
                            FROM unnest(range(0, {PSI_BINS})) t(i)) t
                LEFT JOIN sb ON sb.s = sl.s AND sb.bin = t.bin
            ),
            s_tot AS (SELECT s, SUM(c_sb) AS n_s FROM dense GROUP BY 1),
            b_tot AS (SELECT bin, SUM(c_sb) AS c_b FROM dense GROUP BY 1),
            grand AS (SELECT SUM(n_s) AS n_total FROM s_tot)
            SELECT dense.s AS source,
                   CAST(s_tot.n_s AS BIGINT) AS n_docs,
                   ROUND(SUM(
                       (GREATEST(dense.c_sb * 1.0 / s_tot.n_s, 0.0001)
                        - GREATEST(b_tot.c_b * 1.0 / grand.n_total, 0.0001))
                       * LN(GREATEST(dense.c_sb * 1.0 / s_tot.n_s, 0.0001)
                            / GREATEST(b_tot.c_b * 1.0 / grand.n_total, 0.0001))
                   ), 6) AS psi
            FROM dense
            JOIN s_tot USING (s)
            JOIN b_tot USING (bin), grand
            GROUP BY dense.s, s_tot.n_s
        """,
        "q94_corpus_datasheet": """
            WITH per_doc AS (
                SELECT lang, source, md5(text) AS h,
                       CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
                       CAST((100 * (len(string_split(text, ' ')) - len(list_filter(string_split(text, ' '), w -> w IN ('a', 'the'))) + len(list_distinct(string_split(text, ' ')))) + len(string_split(text, ' '))) // (2 * len(string_split(text, ' '))) AS BIGINT) AS q
                FROM documents
            ),
            doc_lang AS (
                SELECT lang,
                       CAST(COUNT(*) AS BIGINT) AS n_docs,
                       CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
                       CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
                       ROUND(quantile_cont(q, 0.25), 4) AS q25,
                       ROUND(quantile_cont(q, 0.5), 4) AS q50,
                       ROUND(quantile_cont(q, 0.75), 4) AS q75
                FROM per_doc GROUP BY lang
                UNION ALL
                SELECT 'ALL',
                       CAST(COUNT(*) AS BIGINT),
                       CAST(SUM(n_tok) AS BIGINT),
                       CAST(COUNT(DISTINCT source) AS BIGINT),
                       ROUND(quantile_cont(q, 0.25), 4),
                       ROUND(quantile_cont(q, 0.5), 4),
                       ROUND(quantile_cont(q, 0.75), 4)
                FROM per_doc
            ),
            dups AS (
                SELECT lang, CAST(SUM(n_same - 1) AS BIGINT) AS dup_docs
                FROM (SELECT lang, h, COUNT(*) AS n_same
                      FROM per_doc GROUP BY 1, 2)
                GROUP BY lang
                UNION ALL
                SELECT 'ALL', CAST(SUM(n_same - 1) AS BIGINT)
                FROM (SELECT h, COUNT(*) AS n_same FROM per_doc GROUP BY 1)
            )
            SELECT d.lang AS lang, n_docs, n_tokens, n_sources, dup_docs,
                   q25, q50, q75
            FROM doc_lang d JOIN dups USING (lang)
        """,
        "q95_phrase_search": f"""
            WITH docs AS (
                SELECT doc_id, string_split(text, ' ') AS ws FROM documents
            ),
            pos AS (
                SELECT doc_id, t.i AS p, ws[t.i] AS term
                FROM docs, unnest(range(1, len(ws) + 1)) t(i)
                WHERE ws[t.i] IN {PHRASE!r}
            ),
            aligned AS (
                SELECT doc_id, p - 0 AS start, 0 AS off
                FROM pos WHERE term = '{PHRASE[0]}'
                UNION ALL
                SELECT doc_id, p - 1, 1 FROM pos WHERE term = '{PHRASE[1]}'
            ),
            hits AS (
                SELECT doc_id, start, COUNT(DISTINCT off) AS n_off
                FROM aligned GROUP BY 1, 2
            )
            SELECT CAST(doc_id AS BIGINT) AS doc_id,
                   CAST(COUNT(*) AS BIGINT) AS n_occurrences
            FROM hits WHERE n_off = {len(PHRASE)}
            GROUP BY doc_id
        """,
        "q96_embedding_covariance": """
            WITH e AS (
                SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings
            ),
            p AS (
                SELECT ti.i - 1 AS i, tj.j - 1 AS j, v[ti.i] AS xi, v[tj.j] AS xj
                FROM e,
                     unnest(range(1, len(v) + 1)) ti(i),
                     unnest(range(1, len(v) + 1)) tj(j)
                WHERE tj.j >= ti.i
            ),
            m AS (
                SELECT t.d - 1 AS d, SUM(v[t.d]) / COUNT(*) AS mean
                FROM e, unnest(range(1, len(v) + 1)) t(d)
                GROUP BY 1
            )
            SELECT CAST(p.i AS BIGINT) AS dim_i,
                   CAST(p.j AS BIGINT) AS dim_j,
                   ROUND(SUM(xi * xj) / COUNT(*) - mi.mean * mj.mean, 6)
                       + 0.0 AS cov
            FROM p
            JOIN m mi ON p.i = mi.d
            JOIN m mj ON p.j = mj.d
            GROUP BY p.i, p.j, mi.mean, mj.mean
        """,
        "q97_funnel": f"""
            WITH s0 AS (
                SELECT user_id, MIN(ts) AS t FROM events
                WHERE event_type = '{FUNNEL_STAGES[0]}' GROUP BY 1
            ),
            s1 AS (
                SELECT e.user_id, MIN(e.ts) AS t
                FROM events e JOIN s0 ON e.user_id = s0.user_id
                WHERE e.event_type = '{FUNNEL_STAGES[1]}' AND e.ts > s0.t
                GROUP BY 1
            ),
            s2 AS (
                SELECT e.user_id, MIN(e.ts) AS t
                FROM events e JOIN s1 ON e.user_id = s1.user_id
                WHERE e.event_type = '{FUNNEL_STAGES[2]}' AND e.ts > s1.t
                GROUP BY 1
            ),
            s3 AS (
                SELECT e.user_id, MIN(e.ts) AS t
                FROM events e JOIN s2 ON e.user_id = s2.user_id
                WHERE e.event_type = '{FUNNEL_STAGES[3]}' AND e.ts > s2.t
                GROUP BY 1
            ),
            c AS (
                SELECT (SELECT COUNT(*) FROM s0) AS n0,
                       (SELECT COUNT(*) FROM s1) AS n1,
                       (SELECT COUNT(*) FROM s2) AS n2,
                       (SELECT COUNT(*) FROM s3) AS n3
            )
            SELECT CAST(0 AS BIGINT) AS stage_idx,
                   '{FUNNEL_STAGES[0]}' AS stage,
                   CAST(n0 AS BIGINT) AS n_users,
                   ROUND(n0 * 1.0 / NULLIF(n0, 0), 6) AS conv_from_prev
            FROM c
            UNION ALL
            SELECT CAST(1 AS BIGINT), '{FUNNEL_STAGES[1]}', CAST(n1 AS BIGINT),
                   ROUND(n1 * 1.0 / NULLIF(n0, 0), 6) FROM c
            UNION ALL
            SELECT CAST(2 AS BIGINT), '{FUNNEL_STAGES[2]}', CAST(n2 AS BIGINT),
                   ROUND(n2 * 1.0 / NULLIF(n1, 0), 6) FROM c
            UNION ALL
            SELECT CAST(3 AS BIGINT), '{FUNNEL_STAGES[3]}', CAST(n3 AS BIGINT),
                   ROUND(n3 * 1.0 / NULLIF(n2, 0), 6) FROM c
        """,
        "q98_cohort_retention": """
            WITH acts AS (
                SELECT user_id, epoch_ms(ts) // 86400000 AS day FROM events
            ),
            firsts AS (
                SELECT user_id, MIN(day) AS cohort_day FROM acts GROUP BY 1
            ),
            sizes AS (
                SELECT cohort_day, COUNT(*) AS cohort_users
                FROM firsts GROUP BY 1
            ),
            ret AS (
                SELECT f.cohort_day,
                       (a.day - f.cohort_day) // 7 AS week_offset,
                       CAST(COUNT(DISTINCT a.user_id) AS BIGINT) AS n_users
                FROM acts a JOIN firsts f ON a.user_id = f.user_id
                GROUP BY 1, 2
            )
            SELECT CAST(r.cohort_day AS BIGINT) AS cohort_day,
                   CAST(r.week_offset AS BIGINT) AS week_offset,
                   r.n_users,
                   ROUND(r.n_users * 1.0 / s.cohort_users, 6)
                       AS retention_frac
            FROM ret r JOIN sizes s ON r.cohort_day = s.cohort_day
        """,
        "q99_event_transitions": """
            WITH pairs AS (
                SELECT event_type AS from_type,
                       lead(event_type) OVER (
                           PARTITION BY user_id
                           ORDER BY ts ASC, event_id ASC) AS to_type
                FROM events
            ),
            cnt AS (
                SELECT from_type, to_type, CAST(COUNT(*) AS BIGINT) AS n
                FROM pairs WHERE to_type IS NOT NULL GROUP BY 1, 2
            )
            SELECT from_type, to_type, n,
                   ROUND(n * 1.0 / SUM(n) OVER (PARTITION BY from_type), 6)
                       AS prob
            FROM cnt
        """,
        "q100_char_entropy": """
            WITH ch AS (
                SELECT doc_id,
                       len(string_split_regex(text, '')) AS n_chars,
                       unnest(string_split_regex(text, '')) AS c
                FROM documents
            ),
            cnt AS (
                SELECT doc_id, MAX(n_chars) AS n, c, COUNT(*) AS k
                FROM ch GROUP BY doc_id, c
            )
            SELECT CAST(doc_id AS BIGINT) AS doc_id,
                   CAST(MAX(n) AS BIGINT) AS n_chars_split,
                   ROUND(log2(MAX(n)) - SUM(k * log2(k)) / MAX(n), 6)
                       AS entropy_bits
            FROM cnt GROUP BY doc_id
        """,
        "q101_padding_waste": f"""
            WITH d AS (
                SELECT len(string_split(text, ' ')) AS n FROM documents
            ),
            b AS (
                SELECT CASE WHEN n <= 16 THEN 16 WHEN n <= 32 THEN 32
                            WHEN n <= 64 THEN 64
                            ELSE {PAD_CONTEXT} END AS bucket_len,
                       n, LEAST(n, {PAD_CONTEXT}) AS kept
                FROM d
            )
            SELECT CAST(bucket_len AS BIGINT) AS bucket_len,
                   CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(kept) AS BIGINT) AS kept_tokens,
                   CAST(bucket_len * COUNT(*) - SUM(kept) AS BIGINT)
                       AS padded_slots,
                   CAST(SUM(GREATEST(n - {PAD_CONTEXT}, 0)) AS BIGINT)
                       AS truncated_tokens,
                   ROUND((bucket_len * COUNT(*) - SUM(kept)) * 1.0
                         / (bucket_len * COUNT(*)), 6) AS waste_frac
            FROM b GROUP BY bucket_len
        """,
        "q102_langid_confusion": """
            WITH s AS (
                SELECT lang,
                       len(list_filter(string_split(text, ' '),
                           w -> w IN ('und','der','die','das','nicht'))) AS s_de,
                       len(list_filter(string_split(text, ' '),
                           w -> w IN ('the','a','of','and','is'))) AS s_en,
                       len(list_filter(string_split(text, ' '),
                           w -> w IN ('el','los','y','que','una'))) AS s_es,
                       len(list_filter(string_split(text, ' '),
                           w -> w IN ('le','la','et','les','une'))) AS s_fr
                FROM documents
            ),
            pred AS (
                SELECT lang AS true_lang,
                       CASE WHEN greatest(s_de, s_en, s_es, s_fr) = 0
                                THEN 'unknown'
                            WHEN s_de = greatest(s_de, s_en, s_es, s_fr)
                                THEN 'de'
                            WHEN s_en = greatest(s_de, s_en, s_es, s_fr)
                                THEN 'en'
                            WHEN s_es = greatest(s_de, s_en, s_es, s_fr)
                                THEN 'es'
                            ELSE 'fr' END AS pred_lang
                FROM s
            ),
            cnt AS (
                SELECT true_lang, pred_lang,
                       CAST(COUNT(*) AS BIGINT) AS n_docs
                FROM pred GROUP BY 1, 2
            )
            SELECT true_lang, pred_lang, n_docs,
                   ROUND(n_docs * 1.0 / SUM(n_docs) OVER (
                       PARTITION BY true_lang), 6) AS frac_of_true
            FROM cnt
        """,
        "q103_mixture_ess": f"""
            WITH per AS (
                SELECT source AS stratum, CAST(COUNT(*) AS BIGINT) AS n_docs
                FROM documents GROUP BY 1
            ),
            t AS (
                SELECT stratum, n_docs,
                       n_docs * 1.0 / SUM(n_docs) OVER () AS nat_share,
                       pow(n_docs * 1.0, {ESS_ALPHA})
                           / SUM(pow(n_docs * 1.0, {ESS_ALPHA})) OVER ()
                           AS temp_share
                FROM per
            ),
            t2 AS (
                SELECT *, temp_share / nat_share AS weight_ratio FROM t
            ),
            t3 AS (
                SELECT *,
                       SUM(n_docs * weight_ratio) OVER () AS num,
                       SUM(n_docs * weight_ratio * weight_ratio) OVER ()
                           AS den,
                       SUM(n_docs) OVER () AS n_tot
                FROM t2
            )
            SELECT stratum, n_docs,
                   ROUND(nat_share, 6) AS nat_share,
                   ROUND(temp_share, 6) AS temp_share,
                   ROUND(weight_ratio, 6) AS weight_ratio,
                   ROUND(num * num / den, 6) AS corpus_ess,
                   ROUND(num * num / den / n_tot, 6) AS ess_frac
            FROM t3
        """,
        "q104_lsh_recall_audit": _q104_oracle(),
        "q105_bpe_merge_step": f"""
            WITH w AS (
                SELECT unnest(string_split(text, ' ')) AS word FROM documents
            ),
            wc AS (SELECT word, COUNT(*) AS c FROM w GROUP BY 1),
            ch AS (
                SELECT c, string_split_regex(word, '') AS cs FROM wc
            ),
            p AS (
                SELECT cs[t.i] AS left_sym, cs[t.i + 1] AS right_sym, c
                FROM ch, unnest(range(1, len(cs))) t(i)
                WHERE len(cs) >= 2
            )
            SELECT left_sym, right_sym,
                   CAST(SUM(c) AS BIGINT) AS pair_count
            FROM p GROUP BY 1, 2
            ORDER BY pair_count DESC, left_sym ASC, right_sym ASC
            LIMIT {BPE_TOP_K}
        """,
        "q106_score_auc": """
            WITH t AS (
                SELECT lang,
                       len(string_split(text, ' ')) AS n,
                       len(list_filter(string_split(text, ' '),
                           w -> w IN ('a', 'the'))) AS stop,
                       len(list_distinct(string_split(text, ' '))) AS nd
                FROM documents
            ),
            h AS (
                SELECT CAST((100 * (n - stop + nd) + n) // (2 * n) AS BIGINT)
                           AS s,
                       SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)
                           AS n_pos,
                       SUM(CASE WHEN lang = 'en' THEN 0 ELSE 1 END)
                           AS n_neg
                FROM t GROUP BY 1
            ),
            c AS (
                SELECT s, n_pos, n_neg,
                       COALESCE(SUM(n_neg) OVER (
                           ORDER BY s ASC
                           ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND 1 PRECEDING), 0) AS cum_neg_before
                FROM h
            )
            SELECT CAST(SUM(n_pos) AS BIGINT) AS n_pos,
                   CAST(SUM(n_neg) AS BIGINT) AS n_neg,
                   ROUND(SUM(n_pos * (cum_neg_before + n_neg / 2.0))
                         / (SUM(n_pos) * SUM(n_neg)), 6) AS auc
            FROM c
        """,
        "q107_funnel_in_session": f"""
            WITH marked AS (
                SELECT user_id, event_id, epoch_ms(ts) AS ts_ms,
                       CASE WHEN lag(epoch_ms(ts)) OVER w IS NULL
                              OR epoch_ms(ts) - lag(epoch_ms(ts)) OVER w
                                 > {SESSION_GAP_S * 1000}
                            THEN 1 ELSE 0 END AS new_session
                FROM events
                WINDOW w AS (PARTITION BY user_id
                             ORDER BY ts ASC, event_id ASC)
            ),
            sess AS (
                SELECT user_id, event_id,
                       CAST(SUM(new_session) OVER (
                           PARTITION BY user_id
                           ORDER BY ts_ms ASC, event_id ASC
                           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
                FROM marked
            ),
            ev AS (
                SELECT e.user_id, s.session_id, e.ts, e.event_type
                FROM events e JOIN sess s ON e.event_id = s.event_id
            ),
            f0 AS (
                SELECT user_id, session_id, MIN(ts) AS t FROM ev
                WHERE event_type = '{FUNNEL_STAGES[0]}' GROUP BY 1, 2
            ),
            f1 AS (
                SELECT ev.user_id, ev.session_id, MIN(ev.ts) AS t
                FROM ev JOIN f0 ON ev.user_id = f0.user_id
                             AND ev.session_id = f0.session_id
                WHERE ev.event_type = '{FUNNEL_STAGES[1]}' AND ev.ts > f0.t
                GROUP BY 1, 2
            ),
            f2 AS (
                SELECT ev.user_id, ev.session_id, MIN(ev.ts) AS t
                FROM ev JOIN f1 ON ev.user_id = f1.user_id
                             AND ev.session_id = f1.session_id
                WHERE ev.event_type = '{FUNNEL_STAGES[2]}' AND ev.ts > f1.t
                GROUP BY 1, 2
            ),
            f3 AS (
                SELECT ev.user_id, ev.session_id, MIN(ev.ts) AS t
                FROM ev JOIN f2 ON ev.user_id = f2.user_id
                             AND ev.session_id = f2.session_id
                WHERE ev.event_type = '{FUNNEL_STAGES[3]}' AND ev.ts > f2.t
                GROUP BY 1, 2
            ),
            c AS (
                SELECT (SELECT COUNT(*) FROM f0) AS n0,
                       (SELECT COUNT(*) FROM f1) AS n1,
                       (SELECT COUNT(*) FROM f2) AS n2,
                       (SELECT COUNT(*) FROM f3) AS n3
            )
            SELECT CAST(0 AS BIGINT) AS stage_idx,
                   '{FUNNEL_STAGES[0]}' AS stage,
                   CAST(n0 AS BIGINT) AS n_sessions,
                   ROUND(n0 * 1.0 / NULLIF(n0, 0), 6) AS conv_from_prev
            FROM c
            UNION ALL
            SELECT CAST(1 AS BIGINT), '{FUNNEL_STAGES[1]}', CAST(n1 AS BIGINT),
                   ROUND(n1 * 1.0 / NULLIF(n0, 0), 6) FROM c
            UNION ALL
            SELECT CAST(2 AS BIGINT), '{FUNNEL_STAGES[2]}', CAST(n2 AS BIGINT),
                   ROUND(n2 * 1.0 / NULLIF(n1, 0), 6) FROM c
            UNION ALL
            SELECT CAST(3 AS BIGINT), '{FUNNEL_STAGES[3]}', CAST(n3 AS BIGINT),
                   ROUND(n3 * 1.0 / NULLIF(n2, 0), 6) FROM c
        """,
        "q108_cluster_size_histogram": _CC_CORE + """
            , csize AS (
                SELECT cluster_id, COUNT(*) AS size
                FROM comp GROUP BY 1
            ),
            b AS (
                SELECT CASE WHEN size <= 2 THEN 2
                            WHEN size <= 4 THEN 4
                            WHEN size <= 8 THEN 8
                            WHEN size <= 16 THEN 16
                            WHEN size <= 32 THEN 32
                            WHEN size <= 64 THEN 64
                            WHEN size <= 128 THEN 128
                            WHEN size <= 256 THEN 256
                            WHEN size <= 512 THEN 512
                            WHEN size <= 1024 THEN 1024
                            ELSE 2048 END AS size_le,
                       size
                FROM csize
            )
            SELECT CAST(size_le AS BIGINT) AS size_le,
                   CAST(COUNT(*) AS BIGINT) AS n_clusters,
                   CAST(SUM(size) AS BIGINT) AS n_docs,
                   CAST(SUM(size) - COUNT(*) AS BIGINT) AS n_removable
            FROM b GROUP BY size_le
        """,
        "q109_incremental_stats": """
            SELECT source AS key,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   ROUND(AVG(n_chars * 1.0), 6) AS mean,
                   ROUND(SUM(n_chars * n_chars * 1.0) / COUNT(*)
                         - AVG(n_chars * 1.0) * AVG(n_chars * 1.0), 6)
                       AS variance,
                   ROUND(MIN(n_chars * 1.0), 6) AS min_val,
                   ROUND(MAX(n_chars * 1.0), 6) AS max_val
            FROM documents GROUP BY source
        """,
        "q110_pmc_compression": f"""
            WITH RECURSIVE ev AS (
                SELECT user_id, value,
                       ROW_NUMBER() OVER (PARTITION BY user_id
                           ORDER BY ts ASC, event_id ASC) AS idx
                FROM events
            ),
            steps AS (
                SELECT user_id, 1 AS idx, 1 AS segs, value AS mn, value AS mx
                FROM ev WHERE idx = 1
                UNION ALL
                SELECT s.user_id, e.idx,
                       CASE WHEN greatest(s.mx, e.value)
                                 - least(s.mn, e.value) <= {2 * PMC_EPS}
                            THEN s.segs ELSE s.segs + 1 END,
                       CASE WHEN greatest(s.mx, e.value)
                                 - least(s.mn, e.value) <= {2 * PMC_EPS}
                            THEN least(s.mn, e.value) ELSE e.value END,
                       CASE WHEN greatest(s.mx, e.value)
                                 - least(s.mn, e.value) <= {2 * PMC_EPS}
                            THEN greatest(s.mx, e.value) ELSE e.value END
                FROM steps s JOIN ev e
                  ON e.user_id = s.user_id AND e.idx = s.idx + 1
            )
            SELECT user_id,
                   CAST(MAX(idx) AS BIGINT) AS n_points,
                   CAST(arg_max(segs, idx) AS BIGINT) AS n_segments,
                   ROUND(MAX(idx) * 1.0 / arg_max(segs, idx), 6)
                       AS points_per_segment
            FROM steps GROUP BY user_id
        """,
        "q111_window_anomalies": f"""
            WITH counts AS (
                SELECT (epoch_ms(ts) // 1000 // 3600) * 3600
                           AS window_start_epoch,
                       event_type,
                       CAST(COUNT(*) AS BIGINT) AS n
                FROM events GROUP BY 1, 2
            ),
            stats AS (
                SELECT event_type,
                       COUNT(*) AS n_windows,
                       SUM(n) AS s,
                       SUM(n * n) AS s2
                FROM counts GROUP BY 1
            )
            SELECT c.window_start_epoch, c.event_type, c.n,
                   ROUND((c.n - s.s * 1.0 / s.n_windows)
                         / sqrt(s.s2 * 1.0 / s.n_windows
                                - (s.s * 1.0 / s.n_windows)
                                  * (s.s * 1.0 / s.n_windows)), 6) AS z
            FROM counts c JOIN stats s ON c.event_type = s.event_type
            WHERE abs((c.n - s.s * 1.0 / s.n_windows)
                      / sqrt(s.s2 * 1.0 / s.n_windows
                             - (s.s * 1.0 / s.n_windows)
                               * (s.s * 1.0 / s.n_windows))) >= {ANOMALY_Z}
        """,
        "q112_heaps_fit": """
            WITH tok AS (
                SELECT source AS stratum, unnest(string_split(text, ' ')) AS tok
                FROM documents
            ),
            per AS (
                SELECT stratum,
                       CAST(SUM(c) AS DOUBLE) AS n_tokens,
                       CAST(COUNT(*) AS DOUBLE) AS vocab
                FROM (SELECT stratum, tok, COUNT(*) AS c
                      FROM tok GROUP BY 1, 2)
                GROUP BY stratum
            ),
            fit AS (
                SELECT CAST(COUNT(*) AS BIGINT) AS n_strata,
                       SUM(ln(n_tokens)) AS sx,
                       SUM(ln(vocab)) AS sy,
                       SUM(ln(n_tokens) * ln(vocab)) AS sxy,
                       SUM(ln(n_tokens) * ln(n_tokens)) AS sxx
                FROM per
            )
            SELECT n_strata,
                   ROUND((sxy - sx * sy / n_strata)
                         / (sxx - sx * sx / n_strata), 6) AS beta,
                   ROUND(exp(sy / n_strata
                             - (sxy - sx * sy / n_strata)
                               / (sxx - sx * sx / n_strata)
                               * (sx / n_strata)), 6) AS k
            FROM fit
        """,
        "q113_interevent_gaps": """
            WITH gaps AS (
                SELECT event_type,
                       epoch_ms(ts) - lag(epoch_ms(ts)) OVER (
                           PARTITION BY user_id
                           ORDER BY ts ASC, event_id ASC) AS gap_ms
                FROM events
            )
            SELECT event_type,
                   CAST(COUNT(*) AS BIGINT) AS n_gaps,
                   ROUND(quantile_cont(gap_ms, 0.5), 4) AS p50_ms,
                   ROUND(quantile_cont(gap_ms, 0.9), 4) AS p90_ms,
                   ROUND(quantile_cont(gap_ms, 0.99), 4) AS p99_ms
            FROM gaps WHERE gap_ms IS NOT NULL
            GROUP BY event_type
        """,
        "q114_session_cooccurrence": f"""
            WITH marked AS (
                SELECT user_id, event_id, event_type, epoch_ms(ts) AS ts_ms,
                       CASE WHEN lag(epoch_ms(ts)) OVER w IS NULL
                              OR epoch_ms(ts) - lag(epoch_ms(ts)) OVER w
                                 > {1800 * 1000}
                            THEN 1 ELSE 0 END AS new_session
                FROM events
                WINDOW w AS (PARTITION BY user_id
                             ORDER BY ts ASC, event_id ASC)
            ),
            sess AS (
                SELECT user_id, event_type,
                       CAST(SUM(new_session) OVER (
                           PARTITION BY user_id
                           ORDER BY ts_ms ASC, event_id ASC
                           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
                FROM marked
            ),
            baskets AS (
                SELECT user_id, session_id, event_type
                FROM sess GROUP BY 1, 2, 3
            ),
            nb AS (
                SELECT COUNT(*) AS n_baskets
                FROM (SELECT DISTINCT user_id, session_id FROM sess)
            ),
            pairs AS (
                SELECT a.user_id, a.session_id,
                       a.event_type AS type_a, b.event_type AS type_b
                FROM baskets a JOIN baskets b
                  ON a.user_id = b.user_id AND a.session_id = b.session_id
                 AND a.event_type < b.event_type
            )
            SELECT type_a, type_b,
                   CAST(COUNT(*) AS BIGINT) AS n_sessions,
                   ROUND(COUNT(*) * 1.0 / (SELECT n_baskets FROM nb), 6)
                       AS support
            FROM pairs GROUP BY 1, 2
            ORDER BY n_sessions DESC, type_a ASC, type_b ASC
            LIMIT {COOC_TOP_K}
        """,
        "q115_distinct_ngrams": """
            WITH docs AS (
                SELECT source AS stratum, string_split(text, ' ') AS words
                FROM documents
            ),
            uni AS (SELECT stratum, unnest(words) AS g FROM docs),
            u1 AS (
                SELECT stratum,
                       CAST(SUM(c) AS BIGINT) AS n_unigrams,
                       CAST(COUNT(*) AS BIGINT) AS distinct_unigrams
                FROM (SELECT stratum, g, COUNT(*) AS c FROM uni GROUP BY 1, 2)
                GROUP BY stratum
            ),
            bi AS (
                SELECT stratum, words[t.i] || ' ' || words[t.i + 1] AS g
                FROM docs, unnest(range(1, len(words))) t(i)
                WHERE len(words) >= 2
            ),
            u2 AS (
                SELECT stratum,
                       CAST(SUM(c) AS BIGINT) AS n_bigrams,
                       CAST(COUNT(*) AS BIGINT) AS distinct_bigrams
                FROM (SELECT stratum, g, COUNT(*) AS c FROM bi GROUP BY 1, 2)
                GROUP BY stratum
            )
            SELECT u1.stratum, n_unigrams, distinct_unigrams,
                   ROUND(distinct_unigrams * 1.0 / n_unigrams, 6)
                       AS distinct_1,
                   n_bigrams, distinct_bigrams,
                   ROUND(distinct_bigrams * 1.0 / n_bigrams, 6)
                       AS distinct_2
            FROM u1 JOIN u2 ON u1.stratum = u2.stratum
        """,
        "q116_hard_negatives": f"""
            WITH e AS (
                SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
            ),
            scored AS (
                SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
                       ROUND(list_cosine_similarity(q.v, e.v), 6) AS cosine
                FROM e q JOIN e ON q.vec_id <> e.vec_id
                WHERE q.vec_id < {len(ANN_QUERY_IDS)}
            )
            SELECT query_id, neighbor_id, cosine,
                   CAST(ROW_NUMBER() OVER (
                       PARTITION BY query_id
                       ORDER BY cosine DESC, neighbor_id ASC) AS BIGINT)
                       AS rank
            FROM scored
            WHERE cosine < {HARD_NEG_TAU}
            QUALIFY rank <= {ANN_K}
        """,
        "q117_quality_length_corr": """
            WITH t AS (
                SELECT source AS stratum,
                       CAST(len(string_split(text, ' ')) AS BIGINT) AS x,
                       CAST((100 * (len(string_split(text, ' ')) - len(list_filter(string_split(text, ' '), w -> w IN ('a', 'the'))) + len(list_distinct(string_split(text, ' ')))) + len(string_split(text, ' '))) // (2 * len(string_split(text, ' '))) AS BIGINT) AS y
                FROM documents
            ),
            per AS (
                SELECT stratum,
                       CAST(COUNT(*) AS BIGINT) AS n,
                       CAST(SUM(x) AS BIGINT) AS sx,
                       CAST(SUM(y) AS BIGINT) AS sy,
                       CAST(SUM(x * y) AS BIGINT) AS sxy,
                       CAST(SUM(x * x) AS BIGINT) AS sxx,
                       CAST(SUM(y * y) AS BIGINT) AS syy
                FROM t GROUP BY stratum
            )
            SELECT stratum, n,
                   ROUND((sxy - sx * 1.0 * sy / n)
                         / sqrt((sxx - sx * 1.0 * sx / n)
                                * (syy - sy * 1.0 * sy / n)), 6)
                       AS pearson_r
            FROM per
        """,
        "q118_length_gini": """
            WITH hist AS (
                SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS len,
                       CAST(COUNT(*) AS BIGINT) AS c
                FROM documents GROUP BY 1
            ),
            g AS (
                SELECT len, c,
                       COALESCE(SUM(c) OVER (
                           ORDER BY len ASC
                           ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND 1 PRECEDING), 0) AS cum_before
                FROM hist
            ),
            agg AS (
                SELECT CAST(SUM(c) AS BIGINT) AS n_docs,
                       CAST(SUM(c * len) AS BIGINT) AS total_tokens,
                       CAST(SUM(c * len * (2 * cum_before + c + 1))
                            AS BIGINT) AS weighted
                FROM g
            )
            SELECT n_docs, total_tokens,
                   ROUND(weighted * 1.0 / (n_docs * 1.0 * total_tokens)
                         - (n_docs + 1.0) / n_docs, 6) AS gini
            FROM agg
        """,
        "q119_fuzzy_join": """
            WITH t AS (
                SELECT doc_id, lang,
                       array_to_string(list_slice(string_split(text, ' '), 1, 4),
                                       ' ') AS title,
                       string_split(text, ' ')[1] AS b0
                FROM documents
            ),
            blocks AS (
                SELECT lang, b0, COUNT(*) AS bsz, MIN(doc_id) AS anchor,
                       arg_min(title, doc_id) AS anchor_title
                FROM t GROUP BY lang, b0
            ),
            s AS (
                SELECT t.*, bsz, anchor, anchor_title
                FROM t JOIN blocks USING (lang, b0)
            ),
            pairs AS (
                SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                       levenshtein(a.title, b.title) AS edit_distance
                FROM s a JOIN s b
                  ON a.lang = b.lang AND a.b0 = b.b0 AND a.doc_id < b.doc_id
                WHERE a.bsz <= 200
                UNION ALL
                SELECT LEAST(anchor, doc_id), GREATEST(anchor, doc_id),
                       levenshtein(title, anchor_title)
                FROM s WHERE bsz > 200 AND doc_id <> anchor
            )
            SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b,
                   CAST(edit_distance AS BIGINT) AS edit_distance
            FROM pairs WHERE edit_distance <= 6
        """,
        "q120_sequence_packing": """
            WITH d AS (
                SELECT doc_id,
                       CAST(len(string_split(text, ' ')) AS BIGINT) AS n
                FROM documents
            ),
            c AS (
                SELECT doc_id, n, SUM(n) OVER (ORDER BY doc_id) AS cum FROM d
            ),
            spans AS (
                SELECT doc_id, n, CAST(cum - n AS BIGINT) AS s,
                       CAST(cum AS BIGINT) AS e
                FROM c WHERE n > 0
            ),
            segs AS (
                SELECT UNNEST(generate_series(s // 128, (e - 1) // 128))
                           AS seq_id,
                       doc_id, s, e
                FROM spans
            ),
            seg2 AS (
                SELECT seq_id,
                       GREATEST(s, seq_id * 128) AS a,
                       LEAST(e, (seq_id + 1) * 128) AS b,
                       (s >= seq_id * 128) AS is_head
                FROM segs
            )
            SELECT CAST(seq_id AS BIGINT) AS seq_id,
                   CAST(COUNT(*) AS BIGINT) AS n_segments,
                   CAST(SUM(CASE WHEN is_head THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_heads,
                   CAST(SUM(CASE WHEN is_head THEN 0 ELSE 1 END) AS BIGINT)
                       AS n_carryin,
                   CAST(SUM(b - a) AS BIGINT) AS fill_tokens,
                   ROUND(SUM(b - a) / 128.0, 6) AS fill_frac
            FROM seg2 GROUP BY seq_id
        """,
        "q121_dedup_rewrite": """
            WITH w AS (
                SELECT doc_id, string_split(text, ' ') AS toks,
                       CAST(len(string_split(text, ' ')) AS BIGINT) AS n
                FROM documents
            ),
            chunks AS (
                SELECT doc_id,
                       UNNEST(generate_series(0, (n - 1) // 8)) AS chunk_idx,
                       toks
                FROM w
            ),
            occ AS (
                SELECT doc_id, chunk_idx,
                       array_to_string(
                           list_slice(toks, chunk_idx * 8 + 1,
                                      chunk_idx * 8 + 8), ' ') AS chunk,
                       doc_id * 1000000 + chunk_idx AS occ_key
                FROM chunks
            ),
            winners AS (
                SELECT chunk, MIN(occ_key) AS first_key FROM occ GROUP BY chunk
            ),
            kept AS (
                SELECT o.doc_id,
                       string_agg(o.chunk, ' ' ORDER BY o.chunk_idx) AS rebuilt
                FROM occ o JOIN winners x
                  ON o.chunk = x.chunk AND o.occ_key = x.first_key
                GROUP BY o.doc_id
            )
            SELECT CAST(w.doc_id AS BIGINT) AS doc_id,
                   w.n AS n_tokens_before,
                   CASE WHEN rebuilt IS NULL OR rebuilt = '' THEN 0
                        ELSE CAST(len(string_split(rebuilt, ' ')) AS BIGINT)
                   END AS n_tokens_after,
                   md5(COALESCE(rebuilt, '')) AS text_hash,
                   ROUND((CASE WHEN rebuilt IS NULL OR rebuilt = '' THEN 0
                               ELSE len(string_split(rebuilt, ' ')) END)
                         * 1.0 / w.n, 6) AS kept_frac
            FROM w LEFT JOIN kept ON w.doc_id = kept.doc_id
        """,
        "q122_matryoshka_eval": """
            WITH e AS (
                SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
            ),
            p AS (
                SELECT a.v AS va, b.v AS vb
                FROM e a JOIN e b ON a.vec_id + 1 = b.vec_id
            ),
            obs AS (
                SELECT d.dim,
                       CAST(ROUND(ROUND(list_cosine_similarity(
                                list_slice(va, 1, d.dim),
                                list_slice(vb, 1, d.dim)), 6) * 1000000, 0)
                            AS BIGINT) AS x,
                       CAST(ROUND(ROUND(list_cosine_similarity(va, vb), 6)
                                  * 1000000, 0) AS BIGINT) AS y
                FROM p, (VALUES (8), (16), (32), (64)) AS d(dim)
            ),
            agg AS (
                SELECT CAST(dim AS BIGINT) AS dim,
                       CAST(COUNT(*) AS BIGINT) AS n_pairs,
                       SUM(CAST(x AS HUGEINT)) AS sx,
                       SUM(CAST(y AS HUGEINT)) AS sy,
                       SUM(CAST(x AS HUGEINT) * y) AS sxy,
                       SUM(CAST(x AS HUGEINT) * x) AS sxx,
                       SUM(CAST(y AS HUGEINT) * y) AS syy,
                       SUM(CAST(ABS(x - y) AS HUGEINT)) AS sabs
                FROM obs GROUP BY dim
            )
            SELECT dim, n_pairs,
                   ROUND((CAST(sxy AS DOUBLE)
                          - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / n_pairs)
                         / (sqrt(CAST(sxx AS DOUBLE)
                                 - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)
                                   / n_pairs)
                            * sqrt(CAST(syy AS DOUBLE)
                                   - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)
                                     / n_pairs)), 6) AS pearson_corr,
                   ROUND(CAST(sabs AS DOUBLE) / n_pairs / 1000000.0, 6)
                       AS mean_abs_err
            FROM agg
        """,
        "q123_quantized_recall": f"""
            WITH e AS (
                SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
            ),
            codes AS (
                SELECT vec_id,
                       CASE WHEN scale = 0
                            THEN list_transform(v, x -> CAST(0 AS BIGINT))
                            ELSE list_transform(
                                v, x -> CAST(ROUND(x / scale, 0) AS BIGINT))
                       END AS c
                FROM (SELECT vec_id, v,
                             list_max(list_transform(v, x -> abs(x))) / 127.0
                                 AS scale
                      FROM e)
            ),
            cn AS (
                SELECT vec_id, c,
                       list_aggregate(list_transform(c, x -> x * x), 'sum')
                           AS n2
                FROM codes
            ),
            exact AS (
                SELECT query_id, neighbor_id FROM (
                    SELECT q.vec_id AS query_id, e2.vec_id AS neighbor_id,
                           ROW_NUMBER() OVER (
                               PARTITION BY q.vec_id
                               ORDER BY ROUND(list_cosine_similarity(q.v, e2.v),
                                              6) DESC,
                                        e2.vec_id ASC) AS rn
                    FROM e q JOIN e e2 ON q.vec_id <> e2.vec_id
                    WHERE q.vec_id < {len(ANN_QUERY_IDS)}
                ) WHERE rn <= {ANN_K}
            ),
            approx AS (
                SELECT query_id, neighbor_id FROM (
                    SELECT q.vec_id AS query_id, e2.vec_id AS neighbor_id,
                           ROW_NUMBER() OVER (
                               PARTITION BY q.vec_id
                               ORDER BY ROUND(
                                   CAST(list_aggregate(
                                       list_transform(
                                           list_zip(q.c, e2.c),
                                           z -> z[1] * z[2]), 'sum')
                                       AS DOUBLE)
                                   / (sqrt(CAST(q.n2 AS DOUBLE))
                                      * sqrt(CAST(e2.n2 AS DOUBLE))), 6) DESC,
                                        e2.vec_id ASC) AS rn
                    FROM cn q JOIN cn e2 ON q.vec_id <> e2.vec_id
                    WHERE q.vec_id < {len(ANN_QUERY_IDS)}
                ) WHERE rn <= {ANN_K}
            ),
            ov AS (
                SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_overlap
                FROM exact JOIN approx USING (query_id, neighbor_id)
                GROUP BY query_id
            )
            SELECT CAST(q.query_id AS BIGINT) AS query_id,
                   CAST(COALESCE(n_overlap, 0) AS BIGINT) AS n_overlap,
                   ROUND(COALESCE(n_overlap, 0) / {float(ANN_K)}, 6) AS recall
            FROM (SELECT DISTINCT query_id FROM exact) q
            LEFT JOIN ov USING (query_id)
        """,
        "q124_split_leakage": f"""
            WITH d AS (
                SELECT doc_id, lang AS stratum,
                       CASE WHEN bucket < {int(0.8 * 1000000)} THEN 'train'
                            WHEN bucket < {int(0.9 * 1000000)} THEN 'val'
                            ELSE 'test' END AS split,
                       string_split(text, ' ') AS words
                FROM (
                    SELECT *, CAST(concat('0x',
                               substr(md5('split0:' || CAST(doc_id AS VARCHAR)), 1, 8))
                               AS BIGINT) % 1000000 AS bucket
                    FROM documents
                )
            ),
            sh AS (
                SELECT DISTINCT doc_id, stratum, split,
                       array_to_string(list_slice(words, i, i + 4), ' ') AS shingle
                FROM d, unnest(range(1, greatest(len(words) - 3, 1))) t(i)
                WHERE split IN ('train', 'test')
            ),
            tr AS (SELECT DISTINCT shingle FROM sh WHERE split = 'train'),
            te AS (
                SELECT s.doc_id, s.stratum,
                       CASE WHEN tr.shingle IS NULL THEN 0 ELSE 1 END AS leaked
                FROM sh s LEFT JOIN tr ON s.shingle = tr.shingle
                WHERE s.split = 'test'
            ),
            per_doc AS (
                SELECT stratum, doc_id, COUNT(*) AS n_sh, SUM(leaked) AS n_leaked
                FROM te GROUP BY 1, 2
            )
            SELECT stratum,
                   CAST(COUNT(*) AS BIGINT) AS n_test_docs,
                   CAST(SUM(CASE WHEN n_leaked > 0 THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_leaked_docs,
                   CAST(SUM(n_sh) AS BIGINT) AS n_test_shingles,
                   CAST(SUM(n_leaked) AS BIGINT) AS n_leaked_shingles,
                   ROUND(SUM(CASE WHEN n_leaked > 0 THEN 1 ELSE 0 END) * 1.0
                         / COUNT(*), 6) AS doc_leak_frac,
                   ROUND(SUM(n_leaked) * 1.0 / SUM(n_sh), 6) AS shingle_leak_frac
            FROM per_doc GROUP BY stratum
        """,
        "q125_hybrid_retrieval": f"""
            WITH docs AS (
                SELECT doc_id, string_split(text, ' ') AS words FROM documents
            ),
            qt AS (
                SELECT DISTINCT doc_id AS query_id, w AS term
                FROM docs, unnest(list_slice(words, 1, 6)) t(w)
                WHERE doc_id < {len(ANN_QUERY_IDS)}
            ),
            stats AS (
                SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
                       AVG(len(words)) AS avgdl
                FROM docs
            ),
            toks AS (
                SELECT doc_id, CAST(len(words) AS BIGINT) AS dl,
                       unnest(words) AS term
                FROM docs
            ),
            tf AS (
                SELECT doc_id, term, CAST(COUNT(*) AS DOUBLE) AS tf,
                       ANY_VALUE(dl) AS dl
                FROM toks
                WHERE term IN (SELECT term FROM qt)
                GROUP BY 1, 2
            ),
            dft AS (
                SELECT term, CAST(COUNT(*) AS DOUBLE) AS df FROM tf GROUP BY 1
            ),
            bm AS (
                SELECT qt.query_id, tf.doc_id,
                       ROUND(SUM(
                           LN(1.0 + (n_docs - df + 0.5) / (df + 0.5))
                           * tf * 2.2
                           / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))
                       ), 6) AS bm25
                FROM tf JOIN dft USING (term) JOIN qt USING (term)
                CROSS JOIN stats
                WHERE qt.query_id <> tf.doc_id
                GROUP BY 1, 2
            ),
            bmtop AS (
                SELECT query_id, doc_id AS doc,
                       CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY bm25 DESC, doc_id ASC) AS BIGINT) AS bm25_rank
                FROM bm QUALIFY bm25_rank <= 10
            ),
            e AS (
                SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
            ),
            ctop AS (
                SELECT query_id, neighbor_id, rank AS cos_rank FROM (
                    SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
                           CAST(ROW_NUMBER() OVER (PARTITION BY q.vec_id
                                ORDER BY ROUND(list_cosine_similarity(q.v, e.v), 6)
                                    DESC, e.vec_id ASC) AS BIGINT) AS rank
                    FROM e q JOIN e ON q.vec_id <> e.vec_id
                    WHERE q.vec_id < {len(ANN_QUERY_IDS)}
                ) WHERE rank <= 10
            ),
            f AS (
                SELECT COALESCE(b.query_id, c.query_id) AS query_id,
                       COALESCE(b.doc, c.neighbor_id) AS doc_id,
                       b.bm25_rank, c.cos_rank,
                       COALESCE(1.0 / (60 + b.bm25_rank), 0)
                       + COALESCE(1.0 / (60 + c.cos_rank), 0) AS rrf
                FROM bmtop b FULL JOIN ctop c
                  ON b.query_id = c.query_id AND b.doc = c.neighbor_id
            )
            SELECT CAST(query_id AS BIGINT) AS query_id,
                   CAST(doc_id AS BIGINT) AS doc_id,
                   bm25_rank, cos_rank,
                   ROUND(rrf, 6) AS rrf_score,
                   CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                        ORDER BY rrf DESC, doc_id ASC) AS BIGINT) AS fused_rank
            FROM f QUALIFY fused_rank <= 10
        """,
        "q126_anneal_schedule": """
            WITH per AS (
                SELECT lang AS stratum,
                       CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
                FROM documents GROUP BY 1
            ),
            sh AS (
                SELECT stratum,
                       n_tokens / CAST((SELECT SUM(n_tokens) FROM per) AS DOUBLE)
                           AS share
                FROM per
            ),
            st AS (
                SELECT phase, stratum, share,
                       CAST(ROUND(CASE phase
                            WHEN 1 THEN share
                            WHEN 2 THEN sqrt(share * sqrt(share))
                            WHEN 3 THEN sqrt(share)
                            ELSE sqrt(sqrt(share)) END * 1000000000) AS BIGINT)
                           AS raw_i
                FROM sh CROSS JOIN (SELECT UNNEST(range(1, 5)) AS phase)
            )
            SELECT CAST(phase AS BIGINT) AS phase, stratum,
                   ROUND(1.0 - 0.75 * (phase - 1) / 3, 6) AS alpha,
                   ROUND(share, 6) AS natural_share,
                   ROUND(raw_i * 1.0
                         / SUM(raw_i) OVER (PARTITION BY phase), 6) AS weight,
                   CAST(FLOOR(raw_i * 100000.0
                        / SUM(raw_i) OVER (PARTITION BY phase)) AS BIGINT)
                       AS expected_tokens
            FROM st
        """,
        "q127_knn_label_audit": """
            WITH e AS (
                SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
                FROM embeddings
            ),
            q AS (
                SELECT query_id, own_label, v FROM (
                    SELECT vec_id AS query_id, label AS own_label, v,
                           CAST(concat('0x',
                                substr(md5('knn0:' || CAST(vec_id AS VARCHAR)),
                                       1, 8)) AS BIGINT) % 1000000 AS b
                    FROM e
                ) WHERE b < 100000
                ORDER BY b ASC, query_id ASC LIMIT 50
            ),
            topk AS (
                SELECT * FROM (
                    SELECT q.query_id, q.own_label, e.label AS nb_label,
                           ROW_NUMBER() OVER (PARTITION BY q.query_id
                               ORDER BY ROUND(list_cosine_similarity(q.v, e.v), 6)
                                   DESC, e.vec_id ASC) AS rank
                    FROM q JOIN e ON q.query_id <> e.vec_id
                ) WHERE rank <= 5
            ),
            votes AS (
                SELECT query_id, own_label, nb_label, COUNT(*) AS n_votes
                FROM topk GROUP BY 1, 2, 3
            ),
            best AS (
                SELECT query_id, own_label,
                       -((max(struct_pack(n := n_votes, nl := -nb_label))).nl)
                           AS pred_label
                FROM votes GROUP BY 1, 2
            )
            SELECT CAST(own_label AS BIGINT) AS label,
                   CAST(COUNT(*) AS BIGINT) AS n_queries,
                   CAST(SUM(CASE WHEN pred_label = own_label THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_agree,
                   ROUND(SUM(CASE WHEN pred_label = own_label THEN 1 ELSE 0 END)
                         * 1.0 / COUNT(*), 6) AS agree_rate
            FROM best GROUP BY 1
        """,
        "q128_vocab_coverage": """
            WITH toks AS (
                SELECT unnest(string_split(text, ' ')) AS term FROM documents
            ),
            cnt AS (SELECT term, COUNT(*) AS n FROM toks GROUP BY 1),
            tot AS (SELECT CAST(SUM(n) AS BIGINT) AS total_tokens FROM cnt),
            ranked AS (
                SELECT n, ROW_NUMBER() OVER (ORDER BY n DESC, term ASC) AS r
                FROM cnt
            ),
            cum AS (
                SELECT r, SUM(n) OVER (ORDER BY r) AS cumn
                FROM ranked WHERE r <= 20
            )
            SELECT CAST(r AS BIGINT) AS cutoff,
                   CAST(cumn AS BIGINT) AS covered_tokens,
                   total_tokens,
                   ROUND(cumn * 1.0 / total_tokens, 6) AS coverage
            FROM cum CROSS JOIN tot
            WHERE r IN (5, 10, 20)
        """,
        "q129_dedup_inflation": """
            WITH g AS (
                SELECT source, md5(text) AS h, COUNT(*) AS cnt,
                       ANY_VALUE(len(string_split(text, ' '))) AS tok
                FROM documents GROUP BY 1, 2
            )
            SELECT source AS slice,
                   CAST(SUM(cnt) AS BIGINT) AS n_docs,
                   CAST(COUNT(*) AS BIGINT) AS n_unique_docs,
                   CAST(SUM(cnt * tok) AS BIGINT) AS total_tokens,
                   CAST(SUM(tok) AS BIGINT) AS unique_tokens,
                   ROUND(SUM(cnt) * 1.0 / COUNT(*), 6) AS doc_inflation,
                   ROUND(SUM(cnt * tok) * 1.0 / SUM(tok), 6) AS token_inflation
            FROM g GROUP BY source
        """,
        "q130_filter_funnel": """
            WITH m AS (
                SELECT len(words) AS n_words,
                       list_sum(list_transform(words, x -> length(x))) * 1.0
                           / len(words) AS mean_word_len,
                       len(list_filter(words, x -> x IN ('#', '...'))) * 1.0
                           / len(words) AS symbol_frac,
                       len(list_filter(words, x -> x IN ('a', 'the')))
                           AS stopword_hits
                FROM (SELECT string_split(text, ' ') AS words FROM documents)
            ),
            lab AS (
                SELECT CASE WHEN n_words < 30 THEN 1
                            WHEN n_words > 100000 THEN 2
                            WHEN mean_word_len < 2.0 OR mean_word_len > 10.0
                                THEN 3
                            WHEN symbol_frac > 0.1 THEN 4
                            WHEN stopword_hits < 2 THEN 5
                            ELSE 0 END AS stage
                FROM m
            ),
            killed AS (SELECT stage, COUNT(*) AS n_killed FROM lab GROUP BY 1),
            stages AS (
                SELECT * FROM (VALUES (1, 'too_short'), (2, 'too_long'),
                                      (3, 'word_len'), (4, 'symbol'),
                                      (5, 'stopword')) AS t(stage, rule)
            ),
            tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM lab)
            SELECT CAST(s.stage AS BIGINT) AS stage, s.rule,
                   CAST(COALESCE(k.n_killed, 0) AS BIGINT) AS n_killed,
                   CAST(n_total - SUM(COALESCE(k.n_killed, 0))
                        OVER (ORDER BY s.stage) AS BIGINT) AS n_remaining,
                   ROUND(COALESCE(k.n_killed, 0) * 1.0 / n_total, 6)
                       AS kill_frac
            FROM stages s LEFT JOIN killed k ON s.stage = k.stage
            CROSS JOIN tot
        """,
        "q131_subsample_ci": """
            WITH d AS (
                SELECT lang AS stratum, CAST(doc_id AS VARCHAR) AS k,
                       CAST(len(string_split(text, ' ')) AS BIGINT) AS score
                FROM documents
            ),
            reps AS (SELECT UNNEST(range(0, 32)) AS rep),
            member AS (
                SELECT stratum, rep, score
                FROM d CROSS JOIN reps
                WHERE CAST(concat('0x',
                        substr(md5('ci:' || CAST(rep AS VARCHAR) || ':' || k),
                               1, 8)) AS BIGINT) % 1000000 < 500000
            ),
            rm AS (
                SELECT stratum, rep, SUM(score) * 1.0 / COUNT(*) AS rep_mean
                FROM member GROUP BY 1, 2
            ),
            spread AS (
                SELECT stratum,
                       ROUND(MIN(rep_mean), 6) AS ci_lo,
                       ROUND(MAX(rep_mean), 6) AS ci_hi,
                       CAST(COUNT(*) AS BIGINT) AS n_replicates
                FROM rm GROUP BY 1
            ),
            fullm AS (
                SELECT stratum, CAST(COUNT(*) AS BIGINT) AS n_docs,
                       ROUND(SUM(score) * 1.0 / COUNT(*), 6) AS mean_score
                FROM d GROUP BY 1
            )
            SELECT f.stratum, n_docs, mean_score, ci_lo, ci_hi, n_replicates
            FROM fullm f JOIN spread USING (stratum)
        """,
        "q132_dau_wau": """
            WITH ud AS (
                SELECT DISTINCT user_id,
                       epoch_ms(ts) // 86400000 AS day
                FROM events
            ),
            dau AS (SELECT day, COUNT(*) AS dau FROM ud GROUP BY 1),
            cover AS (
                SELECT DISTINCT user_id, day + o AS day
                FROM ud, unnest(range(0, 7)) t(o)
            ),
            wau AS (SELECT day, COUNT(*) AS wau FROM cover GROUP BY 1)
            SELECT CAST(d.day AS BIGINT) AS day,
                   CAST(d.dau AS BIGINT) AS dau,
                   CAST(w.wau AS BIGINT) AS wau,
                   ROUND(d.dau * 1.0 / w.wau, 6) AS stickiness
            FROM dau d JOIN wau w USING (day)
        """,
        "q133_json_props": """
            WITH b AS (
                SELECT event_type,
                       CAST(json_extract_string(props, '$.k') AS BIGINT) AS v
                FROM events
            )
            SELECT event_type,
                   CAST(COUNT(*) AS BIGINT) AS n_events,
                   CAST(SUM(CASE WHEN v IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_missing,
                   CAST(SUM(v) AS BIGINT) AS sum_v,
                   CAST(MIN(v) AS BIGINT) AS min_v,
                   CAST(MAX(v) AS BIGINT) AS max_v,
                   ROUND(SUM(v) * 1.0 / COUNT(v), 6) AS mean_v
            FROM b GROUP BY event_type
        """,
        "q134_extremes_report": """
            WITH m AS (
                SELECT doc_id,
                       CAST(len(words) AS BIGINT) AS n,
                       ROUND(1.0 - len(list_distinct(words)) * 1.0
                             / len(words), 6) AS rep,
                       CAST((100 * (len(words) - len(list_filter(words, w -> w IN ('a', 'the'))) + len(list_distinct(words))) + len(words)) // (2 * len(words)) AS BIGINT) AS q
                FROM (SELECT doc_id, string_split(text, ' ') AS words
                      FROM documents)
            ),
            longest AS (
                SELECT 'longest' AS metric,
                       CAST(ROW_NUMBER() OVER (ORDER BY n DESC, doc_id ASC)
                            AS BIGINT) AS rank,
                       CAST(doc_id AS BIGINT) AS doc_id,
                       ROUND(CAST(n AS DOUBLE), 6) AS value
                FROM m QUALIFY rank <= 3
            ),
            repetitive AS (
                SELECT 'most_repetitive' AS metric,
                       CAST(ROW_NUMBER() OVER (ORDER BY rep DESC, doc_id ASC)
                            AS BIGINT) AS rank,
                       CAST(doc_id AS BIGINT) AS doc_id,
                       ROUND(CAST(rep AS DOUBLE), 6) AS value
                FROM m QUALIFY rank <= 3
            ),
            lowq AS (
                SELECT 'lowest_quality' AS metric,
                       CAST(ROW_NUMBER() OVER (ORDER BY q ASC, doc_id ASC)
                            AS BIGINT) AS rank,
                       CAST(doc_id AS BIGINT) AS doc_id,
                       ROUND(CAST(q AS DOUBLE), 6) AS value
                FROM m QUALIFY rank <= 3
            )
            SELECT * FROM longest
            UNION ALL SELECT * FROM repetitive
            UNION ALL SELECT * FROM lowq
        """,
        "q136_minhash_calibration": _q136_oracle(),
        "q137_temporal_split": f"""
            WITH b AS (
                SELECT CASE WHEN epoch_ms(ts) < {TEMPORAL_CUTOFF_MS}
                                THEN 'train'
                            WHEN epoch_ms(ts) <
                                {TEMPORAL_CUTOFF_MS + TEMPORAL_EMBARGO_MS}
                                THEN 'embargo'
                            ELSE 'test' END AS split,
                       event_type, epoch_ms(ts) AS ms
                FROM events
            )
            SELECT split, event_type,
                   CAST(COUNT(*) AS BIGINT) AS n_events,
                   CAST(MIN(ms) AS BIGINT) AS min_ms,
                   CAST(MAX(ms) AS BIGINT) AS max_ms
            FROM b GROUP BY 1, 2
        """,
        "q138_group_split": f"""
            WITH a AS (
                SELECT CASE WHEN bucket < {int(0.8 * 1000000)} THEN 'train'
                            WHEN bucket < {int(0.9 * 1000000)} THEN 'val'
                            ELSE 'test' END AS split,
                       user_id AS grp
                FROM (
                    SELECT *, CAST(concat('0x',
                               substr(md5('grp0:' || CAST(user_id AS VARCHAR)),
                                      1, 8)) AS BIGINT) % 1000000 AS bucket
                    FROM events
                )
            ),
            pg AS (SELECT split, grp, COUNT(*) AS n_rows FROM a GROUP BY 1, 2)
            SELECT split,
                   CAST(COUNT(*) AS BIGINT) AS n_groups,
                   CAST(SUM(n_rows) AS BIGINT) AS n_rows,
                   ROUND(SUM(n_rows) * 1.0 / COUNT(*), 6) AS rows_per_group
            FROM pg GROUP BY split
        """,
        "q139_release_manifest": """
            SELECT lang AS partition,
                   CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(len(string_split(text, ' '))) AS BIGINT)
                       AS n_tokens,
                   CAST(BIT_XOR(CAST(concat('0x',
                        substr(md5(CAST(doc_id AS VARCHAR) || ':' || text),
                               1, 8)) AS BIGINT)) AS BIGINT) AS content_digest
            FROM documents GROUP BY lang
        """,
        "q140_uncertainty_sample": """
            WITH w AS (
                SELECT doc_id, lang, string_split(text, ' ') AS words
                FROM documents
            ),
            t AS (
                SELECT doc_id, lang AS stratum,
                       CAST((100 * (len(words) - len(list_filter(words, x -> x IN ('a', 'the'))) + len(list_distinct(words))) + len(words)) // (2 * len(words)) AS BIGINT) AS q
                FROM w
            ),
            d AS (SELECT stratum, doc_id, q, ABS(q - 50) AS dist FROM t),
            r AS (
                SELECT stratum, doc_id, q, dist,
                       ROW_NUMBER() OVER (PARTITION BY stratum
                           ORDER BY dist ASC, CAST(doc_id AS VARCHAR) ASC)
                           AS rank
                FROM d
            )
            SELECT stratum, CAST(doc_id AS BIGINT) AS doc_id,
                   CAST(q AS BIGINT) AS quality_score,
                   CAST(dist AS BIGINT) AS dist,
                   CAST(rank AS BIGINT) AS rank
            FROM r WHERE rank <= 5
        """,
        "q135_integrity_check": """
            WITH lk AS (
                SELECT doc_id AS k, COUNT(*) AS ln FROM documents GROUP BY 1
            ),
            rk AS (
                SELECT vec_id AS k, COUNT(*) AS rn FROM embeddings GROUP BY 1
            ),
            m AS (SELECT * FROM lk FULL JOIN rk USING (k))
            SELECT CAST(SUM(COALESCE(ln, 0)) AS BIGINT) AS n_left,
                   CAST(SUM(COALESCE(rn, 0)) AS BIGINT) AS n_right,
                   CAST(SUM(CASE WHEN rn IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_left_orphan_keys,
                   CAST(SUM(CASE WHEN ln IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_right_orphan_keys,
                   CAST(SUM(CASE WHEN ln > 1 THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_left_dup_keys,
                   CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_right_dup_keys
            FROM m
        """,
        "q141_embed_documents": """
            WITH c AS (
                SELECT doc_id,
                       (CAST(concat('0x', substr(md5('emb0:' || text), 1, 8)) AS BIGINT) % 2001 - 1000) / 1000.0 AS e0,
                       (CAST(concat('0x', substr(md5('emb1:' || text), 1, 8)) AS BIGINT) % 2001 - 1000) / 1000.0 AS e1,
                       (CAST(concat('0x', substr(md5('emb2:' || text), 1, 8)) AS BIGINT) % 2001 - 1000) / 1000.0 AS e2,
                       (CAST(concat('0x', substr(md5('emb3:' || text), 1, 8)) AS BIGINT) % 2001 - 1000) / 1000.0 AS e3,
                       (CAST(concat('0x', substr(md5('emb4:' || text), 1, 8)) AS BIGINT) % 2001 - 1000) / 1000.0 AS e4,
                       (CAST(concat('0x', substr(md5('emb5:' || text), 1, 8)) AS BIGINT) % 2001 - 1000) / 1000.0 AS e5,
                       (CAST(concat('0x', substr(md5('emb6:' || text), 1, 8)) AS BIGINT) % 2001 - 1000) / 1000.0 AS e6,
                       (CAST(concat('0x', substr(md5('emb7:' || text), 1, 8)) AS BIGINT) % 2001 - 1000) / 1000.0 AS e7
                FROM documents
            )
            SELECT doc_id,
                   list_value(e0, e1, e2, e3, e4, e5, e6, e7) AS embedding,
                   ROUND(sqrt(e0 * e0 + e1 * e1 + e2 * e2 + e3 * e3 + e4 * e4 + e5 * e5 + e6 * e6 + e7 * e7), 6) AS norm
            FROM c
        """,
        "q142_curriculum_order": f"""
            WITH w AS (
                SELECT doc_id, string_split(text, ' ') AS words FROM documents
            ),
            t AS (
                SELECT doc_id,
                       CAST((100 * (len(words) - len(list_filter(words, x -> x IN ('a', 'the'))) + len(list_distinct(words))) + len(words)) // (2 * len(words)) AS BIGINT) AS q
                FROM w
            ),
            g AS (SELECT q, COUNT(*) AS n FROM t GROUP BY 1),
            tot AS (SELECT COUNT(*) AS n FROM t),
            c AS (
                SELECT q, COALESCE(SUM(n) OVER (ORDER BY q
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                           0) AS below
                FROM g
            ),
            s AS (
                SELECT t.doc_id, t.q,
                       LEAST(1 + (c.below * {CURRICULUM_STAGES}) // tot.n,
                             {CURRICULUM_STAGES}) AS stage,
                       CAST(concat('0x', substr(md5('cur0:'
                            || CAST(t.doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
                            % 1000000 AS b
                FROM t JOIN c USING (q), tot
            )
            SELECT CAST(doc_id AS BIGINT) AS doc_id,
                   CAST(q AS BIGINT) AS quality_score,
                   CAST(stage AS BIGINT) AS stage,
                   CAST(ROW_NUMBER() OVER (PARTITION BY stage
                        ORDER BY b, CAST(doc_id AS VARCHAR)) AS BIGINT)
                       AS position
            FROM s
        """,
        "q143_nb_confusion": f"""
            WITH sp AS (
                SELECT doc_id, lang, string_split(text, ' ') AS words,
                       CAST(concat('0x', substr(md5('nbsplit:'
                            || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
                            % 1000000 < 800000 AS is_train
                FROM documents
            ),
            tok AS (
                SELECT doc_id, lang, is_train,
                       CAST(concat('0x', substr(md5('nb0:' || t.w), 1, 8))
                            AS BIGINT) % {NB_VOCAB_HASH} AS b
                FROM sp, unnest(words) AS t(w)
            ),
            ctot AS (
                SELECT lang, COUNT(*) AS n_c, COUNT(DISTINCT doc_id) AS docs_c
                FROM tok WHERE is_train GROUP BY 1
            ),
            dall AS (SELECT SUM(docs_c) AS docs_all FROM ctot),
            cmeta AS (
                SELECT lang AS cand,
                       CAST(ROUND(ln(1.0 / (n_c + {NB_VOCAB_HASH})) * 1e9)
                            AS BIGINT) AS lp0,
                       CAST(ROUND(ln(docs_c * 1.0 / dall.docs_all) * 1e9)
                            AS BIGINT) AS prior
                FROM ctot, dall
            ),
            model AS (
                SELECT tok.lang AS cand, b,
                       CAST(ROUND(ln((COUNT(*) + 1.0)
                            / (ANY_VALUE(ctot.n_c) + {NB_VOCAB_HASH})) * 1e9)
                            AS BIGINT) AS lp
                FROM tok JOIN ctot USING (lang)
                WHERE is_train GROUP BY 1, 2
            ),
            scored AS (
                SELECT tt.doc_id, ANY_VALUE(tt.lang) AS true_lang, cm.cand,
                       ANY_VALUE(cm.prior) + SUM(COALESCE(m.lp, cm.lp0))
                           AS score
                FROM (SELECT doc_id, lang, b FROM tok WHERE NOT is_train) tt
                CROSS JOIN cmeta cm
                LEFT JOIN model m ON m.cand = cm.cand AND m.b = tt.b
                GROUP BY tt.doc_id, cm.cand
            ),
            best AS (SELECT doc_id, MAX(score) AS ms FROM scored GROUP BY 1),
            pred AS (
                SELECT s.doc_id, ANY_VALUE(s.true_lang) AS t, MIN(s.cand) AS p
                FROM scored s
                JOIN best b ON s.doc_id = b.doc_id AND s.score = b.ms
                GROUP BY 1
            )
            SELECT t AS label_true, p AS label_pred,
                   CAST(COUNT(*) AS BIGINT) AS n_docs
            FROM pred GROUP BY 1, 2
        """,
        "q144_cluster_topics": _q144_oracle(),
        "q145_token_waterfill": f"""
            WITH caps AS (
                SELECT source AS stratum,
                       CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS cap,
                       CAST(CASE WHEN source IN ('src0', 'src1', 'src2')
                                 THEN 10000000 ELSE 1000000 END
                            AS BIGINT) AS w
                FROM documents GROUP BY 1
            ),
            o AS (
                SELECT *,
                       ROW_NUMBER() OVER
                           (ORDER BY (cap * 1000000) // w, stratum) AS pos,
                       SUM(cap) OVER (ORDER BY (cap * 1000000) // w, stratum
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                           AS cum_cap,
                       SUM(w) OVER (ORDER BY (cap * 1000000) // w, stratum
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                           AS cum_w,
                       SUM(cap) OVER () AS total_cap,
                       SUM(w) OVER () AS total_w
                FROM caps
            ),
            g AS (
                SELECT *, (total_cap * {WATERFILL_NUM}) // {WATERFILL_DEN}
                           AS budget,
                       total_w - cum_w AS rem_w
                FROM o
            ),
            g2 AS (
                SELECT *, CAST(cap AS HUGEINT) * rem_w
                           <= CAST(budget - cum_cap AS HUGEINT) * w AS sat
                FROM g
            ),
            g3 AS (
                SELECT *,
                       COALESCE(MAX(CASE WHEN sat THEN cum_cap END) OVER (), 0)
                           AS m_cum_cap,
                       COALESCE(MIN(CASE WHEN sat THEN rem_w END) OVER (),
                                total_w) AS m_rem_w
                FROM g2
            )
            SELECT stratum, CAST(cap AS BIGINT) AS cap_tokens,
                   CAST(w AS BIGINT) AS weight_ppm,
                   CAST(pos AS BIGINT) AS water_rank,
                   sat AS saturated,
                   CAST(CASE WHEN sat THEN cap
                             WHEN m_rem_w > 0 THEN
                                 (CAST(budget - m_cum_cap AS HUGEINT) * w)
                                     // m_rem_w
                             ELSE 0 END AS BIGINT) AS allocated_tokens
            FROM g3
        """,
        "q146_hot_keys": """
            WITH pk AS (
                SELECT CAST(user_id AS VARCHAR) AS key, COUNT(*) AS n_rows
                FROM events GROUP BY 1
            ),
            t AS (SELECT SUM(n_rows) AS total, COUNT(*) AS n_keys FROM pk),
            r AS (
                SELECT key, n_rows,
                       ROW_NUMBER() OVER (ORDER BY n_rows DESC, key ASC) AS rn
                FROM pk
            )
            SELECT key, CAST(n_rows AS BIGINT) AS n_rows,
                   CAST((n_rows * 1000000) // t.total AS BIGINT) AS share_ppm,
                   ROUND(n_rows * t.n_keys * 1.0 / t.total, 6) AS skew_x
            FROM r, t WHERE rn <= 10
        """,
        "q147_histogram_quantiles": f"""
            WITH v AS (
                SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS v
                FROM documents
            ),
            mm AS (SELECT MIN(v) AS lo, MAX(v) AS hi, COUNT(*) AS n FROM v),
            b AS (
                SELECT (v - mm.lo) // ((mm.hi - mm.lo) // {HISTQ_BINS} + 1)
                           AS bin,
                       (mm.hi - mm.lo) // {HISTQ_BINS} + 1 AS w,
                       mm.lo AS lo, mm.n AS n
                FROM v, mm
            ),
            h AS (
                SELECT bin, COUNT(*) AS cnt, ANY_VALUE(lo) AS lo,
                       ANY_VALUE(w) AS w, ANY_VALUE(n) AS n
                FROM b GROUP BY 1
            ),
            c AS (
                SELECT *, SUM(cnt) OVER (ORDER BY bin
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
                FROM h
            ),
            q(q_ppm) AS (VALUES (500000), (900000), (990000)),
            m AS (
                SELECT q.q_ppm, c.bin, c.lo, c.w, c.n, c.cum,
                       (c.n * q.q_ppm + 999999) // 1000000 AS thr
                FROM c, q
            )
            SELECT CAST(q_ppm AS BIGINT) AS q_ppm,
                   CAST(ANY_VALUE(lo) + MIN(bin) * ANY_VALUE(w) AS BIGINT)
                       AS approx_value,
                   CAST(ANY_VALUE(w) AS BIGINT) AS error_bound,
                   CAST(ANY_VALUE(n) AS BIGINT) AS n_rows
            FROM m WHERE cum >= thr GROUP BY q_ppm
        """,
        "q148_burst_detection": f"""
            WITH e AS (SELECT user_id, epoch_ms(ts) AS ms FROM events),
            b AS (
                SELECT user_id, ms,
                       COUNT(*) OVER (PARTITION BY user_id ORDER BY ms
                           RANGE BETWEEN {BURST_WINDOW_MS - 1} PRECEDING
                           AND CURRENT ROW) AS burst
                FROM e
            ),
            g AS (
                SELECT user_id, COUNT(*) AS n_events,
                       MAX(ms) - MIN(ms) AS span_ms, MAX(burst) AS max_burst
                FROM b GROUP BY 1
            )
            SELECT CAST(user_id AS BIGINT) AS user_id,
                   CAST(n_events AS BIGINT) AS n_events,
                   CAST(span_ms AS BIGINT) AS span_ms,
                   CAST(max_burst AS BIGINT) AS max_burst,
                   ROUND(n_events * 60000.0 / (span_ms + {BURST_WINDOW_MS}), 6)
                       AS events_per_min,
                   max_burst >= {BURST_THRESHOLD} AS is_burst
            FROM g
        """,
        "q149_prototypicality": """
            WITH e AS (
                SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
                FROM embeddings
            ),
            dims AS (
                SELECT e.label AS clabel, t.i AS dim, e.v[t.i] AS x
                FROM e, unnest(range(1, len(e.v) + 1)) t(i)
            ),
            cent AS (
                SELECT clabel, dim,
                       ROUND(SUM(CAST(ROUND(x * 1000000000) AS BIGINT)) * 1.0
                             / COUNT(*) / 1000000000.0, 6) AS c
                FROM dims GROUP BY 1, 2
            ),
            cv AS (
                SELECT clabel, list(c ORDER BY dim) AS cvec
                FROM cent GROUP BY 1
            ),
            -- cosine replicates Spark's _dot left fold EXACTLY (sequential
            -- IEEE adds, then dot/(norm*cnorm)): list_cosine_similarity's
            -- internal order differs in the last ulp, which flips the 6th
            -- decimal on .5e-7 boundaries (observed once in 500 rows)
            scored AS (
                SELECT e.vec_id, e.label AS lbl,
                       ROUND(
                           list_reduce(list_transform(range(1, 65),
                               i -> e.v[i] * cv.cvec[i]), (a, b) -> a + b)
                           / (sqrt(list_reduce(list_transform(range(1, 65),
                                  i -> e.v[i] * e.v[i]), (a, b) -> a + b))
                              * sqrt(list_reduce(list_transform(range(1, 65),
                                  i -> cv.cvec[i] * cv.cvec[i]),
                                  (a, b) -> a + b))),
                           6) AS cos
                FROM e JOIN cv ON cv.clabel = e.label
            ),
            r AS (
                SELECT *,
                       ROW_NUMBER() OVER (PARTITION BY lbl ORDER BY
                           -CAST(ROUND(cos * 1000000) AS BIGINT),
                           CAST(vec_id AS VARCHAR)) AS rn,
                       COUNT(*) OVER (PARTITION BY lbl) AS n_lbl
                FROM scored
            ),
            g AS (
                SELECT CAST(lbl AS BIGINT) AS label,
                       CAST(1 + ((rn - 1) * 10) // n_lbl AS BIGINT) AS decile,
                       CAST(COUNT(*) AS BIGINT) AS n_vecs,
                       ROUND(MAX(cos), 6) AS max_cos,
                       ROUND(MIN(cos), 6) AS min_cos,
                       SUM(CAST(ROUND(cos * 1000000) AS BIGINT)) AS s
                FROM r GROUP BY 1, 2
            )
            SELECT label, decile, n_vecs, max_cos, min_cos,
                   CASE WHEN s >= 0
                        THEN (2 * s + n_vecs) // (2 * n_vecs)
                        ELSE -((2 * (-s) + n_vecs) // (2 * n_vecs))
                   END / 1000000.0 AS mean_cos
            FROM g
        """,
        "q150_dedup_threshold_curve": """
            WITH docs AS (
                SELECT doc_id, string_split(text, ' ') AS words FROM documents
            ),
            sh AS (
                SELECT DISTINCT doc_id,
                       words[i] || ' ' || words[i+1] || ' ' || words[i+2] AS shingle
                FROM docs, unnest(range(1, greatest(len(words) - 1, 1))) t(i)
            ),
            cnt AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY 1),
            shared AS (
                SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS shared
                FROM sh a JOIN sh b ON a.shingle = b.shingle
                     AND a.doc_id < b.doc_id
                GROUP BY 1, 2
            ),
            p AS (
                SELECT id_a, id_b,
                       ROUND(shared * 1.0 / (ca.n_sh + cb.n_sh - shared), 6)
                           AS jaccard
                FROM shared
                JOIN cnt ca ON id_a = ca.doc_id
                JOIN cnt cb ON id_b = cb.doc_id
                WHERE ROUND(shared * 1.0 / (ca.n_sh + cb.n_sh - shared), 6)
                      >= 0.5
            ),
            grid AS (
                SELECT p.*, t.t AS threshold_pct
                FROM p, unnest([50, 60, 70, 80, 90]) t(t)
                WHERE CAST(ROUND(jaccard * 1000000) AS BIGINT) >= t.t * 10000
            ),
            per_t AS (
                SELECT threshold_pct, COUNT(*) AS n_pairs,
                       COUNT(DISTINCT id_b) AS dub
                FROM grid GROUP BY 1
            ),
            docs_t AS (
                SELECT threshold_pct, COUNT(DISTINCT d) AS n_docs
                FROM (
                    SELECT threshold_pct, unnest([id_a, id_b]) AS d FROM grid
                ) GROUP BY 1
            )
            SELECT CAST(threshold_pct AS BIGINT) AS threshold_pct,
                   CAST(n_pairs AS BIGINT) AS n_pairs,
                   CAST(n_docs AS BIGINT) AS n_docs_touched,
                   CAST(dub AS BIGINT) AS drop_upper_bound
            FROM per_t JOIN docs_t USING (threshold_pct)
        """,
        "q151_kn_bigram_logprob": """
            WITH docs AS (
                SELECT doc_id, string_split(text, ' ') AS words FROM documents
            ),
            bg AS (
                SELECT doc_id, words[i] AS w1, words[i+1] AS w2
                FROM docs, unnest(range(1, len(words))) t(i)
                WHERE len(words) >= 2
            ),
            types AS (SELECT w1, w2, COUNT(*) AS c12 FROM bg GROUP BY 1, 2),
            lft AS (
                SELECT w1, SUM(c12) AS c1, COUNT(*) AS n1w1
                FROM types GROUP BY 1
            ),
            rgt AS (SELECT w2, COUNT(*) AS ncont FROM types GROUP BY 1),
            nb AS (SELECT COUNT(*) AS nbig FROM types),
            model AS (
                SELECT t.w1, t.w2,
                       CAST(ROUND(ln(((t.c12 - 0.75) / l.c1)
                            + (((0.75 * l.n1w1) / l.c1)
                               * (r.ncont / nb.nbig))) * 1e9) AS BIGINT) AS lp9
                FROM types t
                JOIN lft l USING (w1)
                JOIN rgt r USING (w2), nb
            ),
            sc AS (
                SELECT bg.doc_id, COUNT(*) AS n_bigrams, SUM(m.lp9) AS s
                FROM bg JOIN model m ON bg.w1 = m.w1 AND bg.w2 = m.w2
                GROUP BY 1
            )
            SELECT CAST(doc_id AS BIGINT) AS doc_id,
                   CAST(n_bigrams AS BIGINT) AS n_bigrams,
                   CAST((2 * (-s) + n_bigrams) // (2 * n_bigrams) AS BIGINT)
                       / 1000000000.0 AS mean_nll
            FROM sc
        """,
        "q152_quantile_normalize": """
            WITH w AS (
                SELECT source, string_split(text, ' ') AS words FROM documents
            ),
            t AS (
                SELECT source,
                       CAST((100 * (len(words) - len(list_filter(words, x -> x IN ('a', 'the'))) + len(list_distinct(words))) + len(words)) // (2 * len(words)) AS BIGINT) AS score
                FROM w
            ),
            cells AS (
                SELECT source, score, COUNT(*) AS n_at FROM t GROUP BY 1, 2
            ),
            ps AS (
                SELECT source, score, n_at,
                       COALESCE(SUM(n_at) OVER (PARTITION BY source
                           ORDER BY score ROWS BETWEEN UNBOUNDED PRECEDING
                           AND 1 PRECEDING), 0) AS below,
                       SUM(n_at) OVER (PARTITION BY source) AS n_src
                FROM cells
            ),
            gc AS (SELECT score, SUM(n_at) AS g_at FROM cells GROUP BY 1),
            gg AS (
                SELECT score, g_at,
                       COALESCE(SUM(g_at) OVER (ORDER BY score
                           ROWS BETWEEN UNBOUNDED PRECEDING
                           AND 1 PRECEDING), 0) AS g_below,
                       SUM(g_at) OVER () AS g_n
                FROM gc
            )
            SELECT ps.source, CAST(ps.score AS BIGINT) AS score,
                   CAST(ps.n_at AS BIGINT) AS n_docs,
                   CAST(((2 * below + n_at) * 1000000) // (2 * n_src)
                        AS BIGINT) AS src_quantile_ppm,
                   CAST(((2 * g_below + g_at) * 1000000) // (2 * g_n)
                        AS BIGINT) AS global_quantile_ppm
            FROM ps JOIN gg USING (score)
        """,
        "q153_retrieval_metrics": _q153_oracle(),
        "q154_surprisal_spans": f"""
            WITH docs AS (
                SELECT doc_id, string_split(text, ' ') AS words FROM documents
            ),
            pos AS (
                SELECT doc_id, len(words) AS n_tokens, t.i AS pos,
                       words[t.i] AS term
                FROM docs, unnest(range(1, len(words) + 1)) t(i)
                WHERE len(words) >= {SURPRISAL_WINDOW}
            ),
            tf AS (SELECT term, COUNT(*) AS n FROM pos GROUP BY 1),
            tot AS (SELECT SUM(n) AS total FROM tf),
            model AS (
                SELECT term,
                       CAST(ROUND(-ln(n / tot.total) * 1e9) AS BIGINT) AS s9
                FROM tf, tot
            ),
            spans AS (
                SELECT p.doc_id, p.n_tokens, p.pos,
                       SUM(m.s9) OVER (PARTITION BY p.doc_id ORDER BY p.pos
                           ROWS BETWEEN CURRENT ROW
                           AND {SURPRISAL_WINDOW - 1} FOLLOWING) AS span9
                FROM pos p JOIN model m USING (term)
            ),
            best AS (
                SELECT doc_id, ANY_VALUE(n_tokens) AS n_tokens,
                       MAX(struct_pack(s := span9, np := -pos)) AS b
                FROM spans
                WHERE pos <= n_tokens - {SURPRISAL_WINDOW} + 1
                GROUP BY 1
            )
            SELECT CAST(doc_id AS BIGINT) AS doc_id,
                   CAST(n_tokens AS BIGINT) AS n_tokens,
                   CAST(-(b.np) AS BIGINT) AS worst_start,
                   b.s / {float(SURPRISAL_WINDOW) * 1e9} AS worst_mean_nll
            FROM best
        """,
        "q155_table_profile": " UNION ALL ".join(
            f"""
            SELECT '{c}' AS column_name,
                   CAST(COUNT(*) AS BIGINT) AS n_rows,
                   CAST(SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_nulls,
                   CAST(COUNT(DISTINCT CAST({c} AS VARCHAR)) AS BIGINT)
                       AS n_distinct,
                   MIN(CAST({c} AS VARCHAR)) AS min_val,
                   MAX(CAST({c} AS VARCHAR)) AS max_val
            FROM documents
            """
            for c in ["doc_id", "text", "lang", "source", "n_chars"]
        ),
        "q156_join_cardinality": """
            WITH lk AS (
                SELECT o_orderkey AS k, COUNT(*) AS ln FROM orders GROUP BY 1
            ),
            rk AS (
                SELECT l_orderkey AS k, COUNT(*) AS rn FROM lineitem GROUP BY 1
            ),
            m AS (SELECT * FROM lk FULL JOIN rk USING (k))
            SELECT CAST(SUM(COALESCE(ln, 0)) AS BIGINT) AS n_left_rows,
                   CAST(SUM(COALESCE(rn, 0)) AS BIGINT) AS n_right_rows,
                   CAST(SUM(CASE WHEN ln IS NOT NULL THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_left_keys,
                   CAST(SUM(CASE WHEN rn IS NOT NULL THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_right_keys,
                   CAST(SUM(CASE WHEN ln IS NOT NULL AND rn IS NOT NULL
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_matched_keys,
                   CAST(SUM(COALESCE(ln, 0) * COALESCE(rn, 0)) AS BIGINT)
                       AS est_rows,
                   CAST(MAX(COALESCE(ln, 0) * COALESCE(rn, 0)) AS BIGINT)
                       AS max_fanout
            FROM m
        """,
        "q157_blocklist_scan": """
            WITH w AS (
                SELECT doc_id, string_split(text, ' ') AS words FROM documents
            ),
            h AS (
                SELECT doc_id,
                       list_filter(words,
                           x -> x IN ('big', 'merge', 'slow')) AS hits,
                       list_filter([list_position(words, 'big'),
                                    list_position(words, 'merge'),
                                    list_position(words, 'slow')],
                           p -> p IS NOT NULL AND p > 0) AS poss
                FROM w
            )
            SELECT CAST(doc_id AS BIGINT) AS doc_id,
                   CAST(len(hits) AS BIGINT) AS n_hits,
                   CAST(len(list_distinct(hits)) AS BIGINT)
                       AS n_distinct_terms,
                   CAST(COALESCE(list_min(poss), 0) AS BIGINT)
                       AS first_hit_pos,
                   len(hits) > 0 AS flagged
            FROM h
        """,
        "q158_token_mass_quantiles": f"""
            WITH v AS (
                SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS v,
                       CAST(len(string_split(text, ' ')) AS BIGINT) AS wt
                FROM documents
            ),
            mm AS (SELECT MIN(v) AS lo, MAX(v) AS hi, SUM(wt) AS n FROM v),
            b AS (
                SELECT (v - mm.lo) // ((mm.hi - mm.lo) // {HISTQ_BINS} + 1)
                           AS bin,
                       (mm.hi - mm.lo) // {HISTQ_BINS} + 1 AS w,
                       mm.lo AS lo, mm.n AS n, v.wt AS wt
                FROM v, mm
            ),
            h AS (
                SELECT bin, SUM(wt) AS cnt, ANY_VALUE(lo) AS lo,
                       ANY_VALUE(w) AS w, ANY_VALUE(n) AS n
                FROM b GROUP BY 1
            ),
            c AS (
                SELECT *, SUM(cnt) OVER (ORDER BY bin
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
                FROM h
            ),
            q(q_ppm) AS (VALUES (500000), (900000), (990000)),
            m AS (
                SELECT q.q_ppm, c.bin, c.lo, c.w, c.n, c.cum,
                       (c.n * q.q_ppm + 999999) // 1000000 AS thr
                FROM c, q
            )
            SELECT CAST(q_ppm AS BIGINT) AS q_ppm,
                   CAST(ANY_VALUE(lo) + MIN(bin) * ANY_VALUE(w) AS BIGINT)
                       AS approx_value,
                   CAST(ANY_VALUE(w) AS BIGINT) AS error_bound,
                   CAST(ANY_VALUE(n) AS BIGINT) AS n_rows
            FROM m WHERE cum >= thr GROUP BY q_ppm
        """,
        "q159_pagerank": _pagerank_oracle(PR_ITERS, PR_TOPK),
        "q160_ewma_anomaly": f"""
            WITH s AS (
                SELECT user_id, ts, event_id,
                       CAST(ROUND(value * 1000000) AS BIGINT) AS x
                FROM events
            ),
            l AS (
                SELECT user_id, x,
                       LAG(x, 1) OVER u * 128 + LAG(x, 2) OVER u * 64
                     + LAG(x, 3) OVER u * 32 + LAG(x, 4) OVER u * 16
                     + LAG(x, 5) OVER u * 8  + LAG(x, 6) OVER u * 4
                     + LAG(x, 7) OVER u * 2  + LAG(x, 8) OVER u * 1
                           AS wsum
                FROM s
                WINDOW u AS (PARTITION BY user_id ORDER BY ts, event_id)
            ),
            d AS (
                SELECT user_id, x - wsum // 255 AS dev
                FROM l WHERE wsum IS NOT NULL
            )
            SELECT user_id,
                   CAST(COUNT(*) AS BIGINT) AS n_scored,
                   CAST(SUM(CASE WHEN ABS(dev) > {EWMA_THRESHOLD_MICROS}
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_anomalies,
                   CAST(MAX(ABS(dev)) AS BIGINT) AS max_abs_dev_micros
            FROM d GROUP BY 1
            HAVING SUM(CASE WHEN ABS(dev) > {EWMA_THRESHOLD_MICROS}
                       THEN 1 ELSE 0 END) > 0
        """,
        "q161_association_rules": f"""
            WITH b AS (SELECT DISTINCT user_id, event_type FROM events),
            n AS (SELECT COUNT(DISTINCT user_id) AS n_users FROM b),
            s AS (SELECT event_type, COUNT(*) AS sup FROM b GROUP BY 1),
            p AS (
                SELECT a.event_type AS antecedent,
                       c.event_type AS consequent, COUNT(*) AS sup_ab
                FROM b a JOIN b c ON a.user_id = c.user_id
                              AND a.event_type <> c.event_type
                GROUP BY 1, 2 HAVING COUNT(*) >= {RULES_MIN_SUPPORT}
            )
            SELECT p.antecedent, p.consequent,
                   CAST(p.sup_ab AS BIGINT) AS sup_ab,
                   CAST((p.sup_ab * 1000000) // sa.sup AS BIGINT)
                       AS confidence_ppm,
                   CAST((p.sup_ab * n.n_users * 1000) // (sa.sup * sb.sup)
                        AS BIGINT) AS lift_milli
            FROM p
            JOIN s sa ON p.antecedent = sa.event_type
            JOIN s sb ON p.consequent = sb.event_type
            CROSS JOIN n
        """,
        "q162_readability": """
            WITH t AS (
                SELECT source,
                       len(string_split(text, ' ')) AS w,
                       GREATEST(1,
                           len(string_split_regex(text, '[.!?]')) - 1) AS s,
                       GREATEST(1,
                           len(regexp_extract_all(text, '[aeiouAEIOU]+')))
                           AS y
                FROM documents
            ),
            f AS (
                SELECT source,
                       206835 - (1015 * w) // s - (84600 * y) // w AS fre
                FROM t
            )
            SELECT source,
                   CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(fre) // COUNT(*) AS BIGINT) AS mean_fre_milli,
                   CAST(SUM(CASE WHEN fre >= 90000 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_easy,
                   CAST(SUM(CASE WHEN fre >= 60000 AND fre < 90000
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_standard,
                   CAST(SUM(CASE WHEN fre < 60000 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_hard
            FROM f GROUP BY 1
        """,
        "q163_winsorize": f"""
            WITH {_SCORE_T_CTE},
            cells AS (
                SELECT source, score, COUNT(*) AS n_at FROM t GROUP BY 1, 2
            ),
            c AS (
                SELECT *,
                       SUM(n_at) OVER (PARTITION BY source ORDER BY score
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                           AS cum,
                       SUM(n_at) OVER (PARTITION BY source) AS n_src
                FROM cells
            ),
            bnd AS (
                SELECT source,
                       MIN(CASE WHEN cum >= (n_src * 50000 + 999999)
                                // 1000000 THEN score END) AS lo_score,
                       MIN(CASE WHEN cum >= (n_src * 950000 + 999999)
                                // 1000000 THEN score END) AS hi_score
                FROM c GROUP BY 1
            )
            SELECT t.source,
                   CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(ANY_VALUE(lo_score) AS BIGINT) AS lo_score,
                   CAST(ANY_VALUE(hi_score) AS BIGINT) AS hi_score,
                   CAST((SUM(score) * 1000) // COUNT(*) AS BIGINT)
                       AS mean_before_milli,
                   CAST((SUM(GREATEST(lo_score, LEAST(hi_score, score)))
                         * 1000) // COUNT(*) AS BIGINT)
                       AS mean_after_milli,
                   CAST(SUM(CASE WHEN score <>
                            GREATEST(lo_score, LEAST(hi_score, score))
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_clamped
            FROM t JOIN bnd USING (source) GROUP BY 1
        """,
        "q164_diversity": """
            WITH cells AS (
                SELECT source, lang, COUNT(*) AS c
                FROM documents GROUP BY 1, 2
            )
            SELECT source,
                   CAST(SUM(c) AS BIGINT) AS n_docs,
                   CAST(COUNT(*) AS BIGINT) AS richness,
                   CAST(1000000 - (SUM(c * c) * 1000000)
                        // (SUM(c) * SUM(c)) AS BIGINT)
                       AS gini_simpson_ppm,
                   CAST((MAX(c) * 1000000) // SUM(c) AS BIGINT)
                       AS berger_parker_ppm
            FROM cells GROUP BY 1
        """,
        "q165_pareto_frontier": f"""
            WITH {_SCORE_T_CTE},
            pts AS (SELECT score, n_chars AS len FROM t),
            cells AS (SELECT score, MAX(len) AS max_len FROM pts GROUP BY 1),
            f AS (
                SELECT score, max_len,
                       COALESCE(MAX(max_len) OVER (ORDER BY score DESC
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                           -1) AS best_above
                FROM cells
            ),
            sel AS (
                SELECT score, max_len AS frontier_len
                FROM f WHERE max_len > best_above
            ),
            cnt AS (
                SELECT score, len, COUNT(*) AS n FROM pts GROUP BY 1, 2
            )
            SELECT CAST(sel.score AS BIGINT) AS score,
                   CAST(sel.frontier_len AS BIGINT) AS frontier_len,
                   CAST(cnt.n AS BIGINT) AS n_docs_at_point
            FROM sel JOIN cnt
              ON sel.score = cnt.score AND sel.frontier_len = cnt.len
        """,
        "q166_triangles": """
            WITH pk AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS p
                        FROM lineitem),
            e AS (SELECT DISTINCT a.p AS src, b.p AS dst
                  FROM pk a JOIN pk b ON a.ok = b.ok AND a.p < b.p),
            deg AS (
                SELECT v, COUNT(*) AS d FROM (
                    SELECT src AS v FROM e
                    UNION ALL SELECT dst AS v FROM e
                ) GROUP BY 1
            ),
            o AS (
                SELECT CASE WHEN du.d < dv.d
                              OR (du.d = dv.d AND e.src < e.dst)
                            THEN e.src ELSE e.dst END AS lo,
                       CASE WHEN du.d < dv.d
                              OR (du.d = dv.d AND e.src < e.dst)
                            THEN e.dst ELSE e.src END AS hi
                FROM e
                JOIN deg du ON e.src = du.v
                JOIN deg dv ON e.dst = dv.v
            ),
            wedge AS (
                SELECT w1.hi AS v, w2.hi AS w
                FROM o w1 JOIN o w2 ON w1.lo = w2.lo AND w1.hi < w2.hi
            ),
            tri AS (
                SELECT COUNT(*) AS n_tri
                FROM wedge JOIN e ON wedge.v = e.src AND wedge.w = e.dst
            ),
            st AS (
                SELECT COUNT(*) AS n_nodes,
                       SUM(d) // 2 AS n_edges,
                       SUM(d * (d - 1) // 2) AS n_wedges
                FROM deg
            )
            SELECT CAST(n_nodes AS BIGINT) AS n_nodes,
                   CAST(n_edges AS BIGINT) AS n_edges,
                   CAST(n_wedges AS BIGINT) AS n_wedges,
                   CAST(n_tri AS BIGINT) AS n_triangles,
                   CAST((3 * n_tri * 1000000) // n_wedges AS BIGINT)
                       AS global_clustering_ppm
            FROM st, tri
        """,
        "q167_epoch_allocation": f"""
            WITH u AS (
                SELECT source AS stratum,
                       SUM(len(string_split(text, ' '))) AS uniq
                FROM documents GROUP BY 1
            ),
            g AS (
                SELECT stratum, uniq, uniq * {EPOCH_MAX} AS cap,
                       SUM(uniq) OVER () AS total_uniq,
                       COUNT(*) OVER () AS n_strata
                FROM u
            ),
            g2 AS (
                SELECT *,
                       (total_uniq * {EPOCH_BUDGET_NUM})
                           // {EPOCH_BUDGET_DEN} AS budget
                FROM g
            ),
            g3 AS (
                SELECT *, LEAST(budget // n_strata, cap) AS alloc1 FROM g2
            ),
            g4 AS (
                SELECT *,
                       budget - SUM(alloc1) OVER () AS leftover,
                       cap - alloc1 AS rem_cap,
                       SUM(cap - alloc1) OVER () AS total_rem
                FROM g3
            ),
            o AS (
                SELECT *,
                       alloc1 + CASE WHEN total_rem <= 0 THEN 0
                                ELSE LEAST(rem_cap,
                                    (leftover * rem_cap) // total_rem) END
                           AS alloc
                FROM g4
            )
            SELECT stratum,
                   CAST(uniq AS BIGINT) AS unique_tokens,
                   CAST(cap AS BIGINT) AS cap_tokens,
                   CAST(alloc AS BIGINT) AS allocated_tokens,
                   CAST((alloc * 1000) // uniq AS BIGINT) AS epochs_milli,
                   alloc >= cap AS capped
            FROM o
        """,
        "q168_normalization_audit": """
            WITH a AS (
                SELECT source,
                       text <> TRIM(regexp_replace(LOWER(text), '  +', ' ',
                                                   'g')) AS changed,
                       length(text) - length(TRIM(regexp_replace(
                           LOWER(text), '  +', ' ', 'g'))) AS delta
                FROM documents
            )
            SELECT source,
                   CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(CASE WHEN changed THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_changed,
                   CAST((SUM(CASE WHEN changed THEN 1 ELSE 0 END) * 1000000)
                        // COUNT(*) AS BIGINT) AS changed_ppm,
                   CAST(SUM(delta) AS BIGINT) AS chars_removed
            FROM a GROUP BY 1
        """,
        "q169_decayed_engagement": f"""
            WITH mx AS (
                SELECT MAX(CAST(FLOOR(epoch(ts)) AS BIGINT)) AS max_s FROM events
            ),
            s AS (
                SELECT user_id,
                       CAST(ROUND(value * 1000000) AS BIGINT)
                       // CAST(POW(2, LEAST(
                              (mx.max_s - CAST(FLOOR(epoch(ts)) AS BIGINT))
                              // 86400, 20)) AS BIGINT) AS dm
                FROM events, mx
            )
            SELECT user_id,
                   CAST(SUM(dm) AS BIGINT) AS engagement_micros
            FROM s GROUP BY 1
            ORDER BY 2 DESC, 1 LIMIT {ENGAGE_TOPK}
        """,
        "q170_path_trigrams": f"""
            WITH s AS (
                SELECT user_id, event_type AS step1,
                       LEAD(event_type, 1) OVER u AS step2,
                       LEAD(event_type, 2) OVER u AS step3
                FROM events
                WINDOW u AS (PARTITION BY user_id ORDER BY ts, event_id)
            )
            SELECT step1, step2, step3,
                   CAST(COUNT(*) AS BIGINT) AS n_paths
            FROM s WHERE step3 IS NOT NULL
            GROUP BY 1, 2, 3
            ORDER BY n_paths DESC, step1, step2, step3 LIMIT {PATH_TOPK}
        """,
        "q171_gap_regularity": f"""
            WITH g AS (
                SELECT user_id,
                       CAST(FLOOR(epoch(ts)) AS BIGINT)
                       - LAG(CAST(FLOOR(epoch(ts)) AS BIGINT), 1) OVER
                         (PARTITION BY user_id ORDER BY ts, event_id) AS g
                FROM events
            ),
            s AS (
                SELECT user_id, COUNT(*) AS n_gaps, SUM(g) AS sg,
                       SUM(g * g) AS sg2
                FROM g WHERE g IS NOT NULL GROUP BY 1
            )
            SELECT user_id,
                   CAST(n_gaps AS BIGINT) AS n_gaps,
                   CAST(sg // n_gaps AS BIGINT) AS mean_gap_s,
                   CAST(((n_gaps * sg2 - sg * sg) * 1000000) // (sg * sg)
                        AS BIGINT) AS cv2_micro
            FROM s
            WHERE n_gaps >= {GAP_MIN} AND sg > 0
              AND ((n_gaps * sg2 - sg * sg) * 1000000) // (sg * sg)
                  <= {GAP_MAX_CV2}
        """,
        "q172_doc_keywords": f"""
            WITH toks AS (
                SELECT doc_id, unnest(string_split(text, ' ')) AS term
                FROM documents
            ),
            tf AS (
                SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2
            ),
            nd AS (
                SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs FROM documents
            ),
            idf AS (
                SELECT term,
                       CAST(ROUND(ln(nd.n_docs / COUNT(*)) * 1e9) AS BIGINT)
                           AS idf_nano
                FROM tf, nd GROUP BY term, nd.n_docs
            ),
            sc AS (
                SELECT tf.doc_id, tf.term,
                       tf.tf * idf.idf_nano AS score_nano
                FROM tf JOIN idf USING (term)
            ),
            r AS (
                SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                           ORDER BY score_nano DESC, term) AS rank
                FROM sc
            )
            SELECT doc_id, CAST(rank AS BIGINT) AS rank, term,
                   CAST(score_nano AS BIGINT) AS score_nano
            FROM r WHERE rank <= {KW_TOPK}
        """,
        "q173_chi2_independence": f"""
            WITH {_SCORE_T_CTE},
            b AS (
                SELECT source,
                       CASE WHEN score < 34 THEN 'low'
                            WHEN score < 67 THEN 'mid'
                            ELSE 'high' END AS band
                FROM t
            ),
            cells AS (
                SELECT source, band, COUNT(*) AS o FROM b GROUP BY 1, 2
            ),
            grid AS (
                SELECT s.source, v.band
                FROM (SELECT DISTINCT source FROM cells) s
                CROSS JOIN (VALUES ('low'), ('mid'), ('high')) v(band)
            ),
            dense AS (
                SELECT g.source, g.band, COALESCE(c.o, 0) AS o
                FROM grid g LEFT JOIN cells c USING (source, band)
            ),
            m AS (
                SELECT *,
                       SUM(o) OVER () AS n,
                       SUM(o) OVER (PARTITION BY source) AS r,
                       SUM(o) OVER (PARTITION BY band) AS c
                FROM dense
            ),
            x AS (
                SELECT *,
                       CASE WHEN r = 0 OR c = 0 THEN 0 ELSE
                           (CAST(n AS HUGEINT) * o - CAST(r AS HUGEINT) * c)
                         * (CAST(n AS HUGEINT) * o - CAST(r AS HUGEINT) * c)
                         * 1000 // (CAST(n AS HUGEINT) * r * c) END
                           AS cell_milli
                FROM m
            )
            SELECT CAST(SUM(cell_milli) AS BIGINT) AS chi2_milli,
                   CAST((COUNT(DISTINCT source) - 1)
                        * (COUNT(DISTINCT band) - 1) AS BIGINT) AS dof,
                   CAST(ANY_VALUE(n) AS BIGINT) AS n_rows
            FROM x
        """,
        "q174_mmr_diversify": f"""
            WITH e AS (
                SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                FROM embeddings
            ),
            q AS (SELECT v FROM e WHERE vec_id = {MMR_QUERY_ID}),
            cand AS (
                SELECT e.vec_id, e.v,
                       ROUND(list_cosine_similarity(e.v, q.v), 6) AS rel
                FROM e, q WHERE e.vec_id <> {MMR_QUERY_ID}
                ORDER BY rel DESC, e.vec_id LIMIT {MMR_POOL}
            ),
            s1 AS (
                SELECT vec_id, v, rel, ROUND(0.7 * rel, 6) AS score
                FROM cand ORDER BY ROUND(0.7 * rel, 6) DESC, vec_id LIMIT 1
            ),
            m2 AS (
                SELECT c.vec_id, c.v, c.rel,
                       ROUND(0.7 * c.rel - 0.3 * (
                           SELECT MAX(ROUND(
                               list_cosine_similarity(c.v, s.v), 6))
                           FROM s1 s), 6) AS score
                FROM cand c
                WHERE c.vec_id NOT IN (SELECT vec_id FROM s1)
            ),
            s2 AS (SELECT * FROM m2 ORDER BY score DESC, vec_id LIMIT 1),
            sel2 AS (
                SELECT vec_id, v FROM s1 UNION ALL SELECT vec_id, v FROM s2
            ),
            m3 AS (
                SELECT c.vec_id, c.v, c.rel,
                       ROUND(0.7 * c.rel - 0.3 * (
                           SELECT MAX(ROUND(
                               list_cosine_similarity(c.v, s.v), 6))
                           FROM sel2 s), 6) AS score
                FROM cand c
                WHERE c.vec_id NOT IN (SELECT vec_id FROM sel2)
            ),
            s3 AS (SELECT * FROM m3 ORDER BY score DESC, vec_id LIMIT 1)
            SELECT CAST(1 AS BIGINT) AS rank, CAST(vec_id AS BIGINT)
                       AS vec_id, rel AS relevance, score AS mmr_score
            FROM s1
            UNION ALL
            SELECT CAST(2 AS BIGINT), CAST(vec_id AS BIGINT), rel, score
            FROM s2
            UNION ALL
            SELECT CAST(3 AS BIGINT), CAST(vec_id AS BIGINT), rel, score
            FROM s3
        """,
        "q175_source_length_quantiles": f"""
            WITH v AS (
                SELECT source AS stratum,
                       CAST(len(string_split(text, ' ')) AS BIGINT) AS v
                FROM documents
            ),
            mm AS (
                SELECT stratum, MIN(v) AS lo, MAX(v) AS hi,
                       COUNT(*) AS n
                FROM v GROUP BY 1
            ),
            b AS (
                SELECT v.stratum,
                       (v.v - mm.lo) // ((mm.hi - mm.lo) // {SLQ_BINS} + 1)
                           AS bin,
                       (mm.hi - mm.lo) // {SLQ_BINS} + 1 AS w,
                       mm.lo AS lo, mm.n AS n
                FROM v JOIN mm USING (stratum)
            ),
            h AS (
                SELECT stratum, bin, COUNT(*) AS cnt, ANY_VALUE(lo) AS lo,
                       ANY_VALUE(w) AS w, ANY_VALUE(n) AS n
                FROM b GROUP BY 1, 2
            ),
            c AS (
                SELECT *, SUM(cnt) OVER (PARTITION BY stratum ORDER BY bin
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
                FROM h
            ),
            q(q_ppm) AS (VALUES (500000), (900000)),
            m AS (
                SELECT c.stratum, q.q_ppm, c.bin, c.lo, c.w, c.n, c.cum,
                       (c.n * q.q_ppm + 999999) // 1000000 AS thr
                FROM c, q
            )
            SELECT stratum, CAST(q_ppm AS BIGINT) AS q_ppm,
                   CAST(ANY_VALUE(lo) + MIN(bin) * ANY_VALUE(w) AS BIGINT)
                       AS approx_value,
                   CAST(ANY_VALUE(w) AS BIGINT) AS error_bound,
                   CAST(ANY_VALUE(n) AS BIGINT) AS n_rows
            FROM m WHERE cum >= thr GROUP BY stratum, q_ppm
        """,
        "q176_term_clusters": f"""
            WITH RECURSIVE wsrc AS (
                SELECT string_split(text, ' ') AS ws FROM documents
            ),
            bi AS (
                SELECT ws[t.i] AS w1, ws[t.i + 1] AS w2
                FROM wsrc, unnest(range(1, len(ws))) t(i)
            ),
            uni AS (
                SELECT unnest(string_split(text, ' ')) AS w FROM documents
            ),
            cb AS (SELECT w1, w2, COUNT(*) AS c_xy FROM bi GROUP BY 1, 2),
            cu AS (SELECT w, COUNT(*) AS c_w FROM uni GROUP BY 1),
            t1 AS (SELECT COUNT(*) * 1.0 AS n FROM uni),
            t2 AS (SELECT COUNT(*) * 1.0 AS nb FROM bi),
            p AS (
                SELECT cb.w1, cb.w2
                FROM cb
                JOIN cu cx ON cb.w1 = cx.w
                JOIN cu cy ON cb.w2 = cy.w, t1, t2
                WHERE cb.c_xy >= {TC_MIN_COUNT}
                  AND ROUND(LN((cb.c_xy / nb)
                               / ((cx.c_w / n) * (cy.c_w / n))), 6)
                      >= {TC_PMI_TAU}
            ),
            edges AS (
                SELECT w1 AS src, w2 AS dst FROM p
                UNION SELECT w2, w1 FROM p
            ),
            reach(src, dst) AS (
                SELECT src, dst FROM edges
                UNION
                SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
            ),
            comp AS (
                SELECT src AS term, LEAST(src, MIN(dst)) AS cluster_id
                FROM reach GROUP BY src
            )
            SELECT term, cluster_id,
                   CAST(COUNT(*) OVER (PARTITION BY cluster_id) AS BIGINT)
                       AS cluster_size
            FROM comp
        """,
        "q177_benford": """
            WITH d AS (
                SELECT CAST(substr(CAST(CAST(ROUND(o_totalprice * 100)
                            AS BIGINT) AS VARCHAR), 1, 1) AS BIGINT) AS digit
                FROM orders
            ),
            c AS (
                SELECT digit, COUNT(*) AS o FROM d
                WHERE digit BETWEEN 1 AND 9 GROUP BY 1
            ),
            g AS (
                SELECT *, SUM(o) OVER () AS n,
                       CASE digit WHEN 1 THEN 301030 WHEN 2 THEN 176091
                            WHEN 3 THEN 124939 WHEN 4 THEN 96910
                            WHEN 5 THEN 79181 WHEN 6 THEN 66947
                            WHEN 7 THEN 57992 WHEN 8 THEN 51153
                            ELSE 45757 END AS e_ppm
                FROM c
            )
            SELECT digit,
                   CAST(o AS BIGINT) AS n_rows,
                   CAST((o * 1000000) // n AS BIGINT) AS observed_ppm,
                   CAST(e_ppm AS BIGINT) AS expected_ppm,
                   CAST(((CAST(1000000 AS HUGEINT) * o
                          - CAST(n AS HUGEINT) * e_ppm)
                         * (CAST(1000000 AS HUGEINT) * o
                            - CAST(n AS HUGEINT) * e_ppm)
                         * 1000)
                        // (CAST(1000000 AS HUGEINT) * n * e_ppm)
                        AS BIGINT) AS chi2_milli
            FROM g
        """,
        "q178_conversion_time": f"""
            WITH pu AS (
                SELECT user_id,
                       MIN(CASE WHEN event_type = '{CONV_FROM}'
                           THEN CAST(FLOOR(epoch(ts)) AS BIGINT) END) AS t_from,
                       MIN(CASE WHEN event_type = '{CONV_TO}'
                           THEN CAST(FLOOR(epoch(ts)) AS BIGINT) END) AS t_to
                FROM events GROUP BY 1
            ),
            v AS (
                SELECT t_to - t_from AS v FROM pu
                WHERE t_from IS NOT NULL AND t_to IS NOT NULL
                  AND t_to > t_from
            ),
            mm AS (SELECT MIN(v) AS lo, MAX(v) AS hi, COUNT(*) AS n FROM v),
            b AS (
                SELECT (v - mm.lo) // ((mm.hi - mm.lo) // 64 + 1) AS bin,
                       (mm.hi - mm.lo) // 64 + 1 AS w,
                       mm.lo AS lo, mm.n AS n
                FROM v, mm
            ),
            h AS (
                SELECT bin, COUNT(*) AS cnt, ANY_VALUE(lo) AS lo,
                       ANY_VALUE(w) AS w, ANY_VALUE(n) AS n
                FROM b GROUP BY 1
            ),
            c AS (
                SELECT *, SUM(cnt) OVER (ORDER BY bin
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
                FROM h
            ),
            q(q_ppm) AS (VALUES (500000), (900000)),
            m AS (
                SELECT q.q_ppm, c.bin, c.lo, c.w, c.n, c.cum,
                       (c.n * q.q_ppm + 999999) // 1000000 AS thr
                FROM c, q
            )
            SELECT CAST(q_ppm AS BIGINT) AS q_ppm,
                   CAST(ANY_VALUE(lo) + MIN(bin) * ANY_VALUE(w) AS BIGINT)
                       AS approx_value,
                   CAST(ANY_VALUE(w) AS BIGINT) AS error_bound,
                   CAST(ANY_VALUE(n) AS BIGINT) AS n_rows
            FROM m WHERE cum >= thr GROUP BY q_ppm
        """,
        "q179_dow_profile": """
            WITH daily AS (
                SELECT CAST(FLOOR(epoch(ts)) AS BIGINT) // 86400 AS day,
                       COUNT(*) AS c
                FROM events GROUP BY 1
            )
            SELECT CAST(day % 7 AS BIGINT) AS dow,
                   CAST(COUNT(*) AS BIGINT) AS n_days,
                   CAST((SUM(c) * 1000) // COUNT(*) AS BIGINT)
                       AS mean_daily_milli,
                   CAST(MIN(c) AS BIGINT) AS min_daily,
                   CAST(MAX(c) AS BIGINT) AS max_daily
            FROM daily GROUP BY 1
        """,
        "q180_coverage_select": """
            WITH docs AS (
                SELECT doc_id, string_split(text, ' ') AS words
                FROM documents
            ),
            sh AS (
                SELECT DISTINCT doc_id AS did,
                       words[i] || ' ' || words[i+1] || ' ' || words[i+2]
                           AS shingle
                FROM docs, unnest(range(1, greatest(len(words) - 1, 1))) t(i)
            ),
            g1 AS (SELECT did, COUNT(*) AS gain FROM sh GROUP BY 1),
            p1 AS (SELECT did, gain FROM g1 ORDER BY gain DESC, did LIMIT 1),
            c1 AS (SELECT DISTINCT shingle FROM sh JOIN p1 USING (did)),
            g2 AS (
                SELECT s.did, COUNT(*) AS gain FROM sh s
                WHERE s.did NOT IN (SELECT did FROM p1)
                  AND s.shingle NOT IN (SELECT shingle FROM c1)
                GROUP BY 1
            ),
            p2 AS (SELECT did, gain FROM g2 ORDER BY gain DESC, did LIMIT 1),
            c2 AS (
                SELECT shingle FROM c1
                UNION
                SELECT s.shingle FROM sh s JOIN p2 USING (did)
            ),
            g3 AS (
                SELECT s.did, COUNT(*) AS gain FROM sh s
                WHERE s.did NOT IN (SELECT did FROM p1
                                    UNION SELECT did FROM p2)
                  AND s.shingle NOT IN (SELECT shingle FROM c2)
                GROUP BY 1
            ),
            p3 AS (SELECT did, gain FROM g3 ORDER BY gain DESC, did LIMIT 1)
            SELECT CAST(1 AS BIGINT) AS rank, CAST(did AS BIGINT) AS doc_id,
                   CAST(gain AS BIGINT) AS gain,
                   CAST(gain AS BIGINT) AS covered_total
            FROM p1
            UNION ALL
            SELECT CAST(2 AS BIGINT), CAST(p2.did AS BIGINT),
                   CAST(p2.gain AS BIGINT),
                   CAST(p1.gain + p2.gain AS BIGINT)
            FROM p1, p2
            UNION ALL
            SELECT CAST(3 AS BIGINT), CAST(p3.did AS BIGINT),
                   CAST(p3.gain AS BIGINT),
                   CAST(p1.gain + p2.gain + p3.gain AS BIGINT)
            FROM p1, p2, p3
        """,
        "q181_cohen_kappa": """
            WITH s AS (
                SELECT lang AS gold,
                       len(list_filter(string_split(text, ' '),
                           w -> w IN ('und','der','die','das','nicht')))
                           AS s_de,
                       len(list_filter(string_split(text, ' '),
                           w -> w IN ('the','a','of','and','is'))) AS s_en,
                       len(list_filter(string_split(text, ' '),
                           w -> w IN ('el','los','y','que','una'))) AS s_es,
                       len(list_filter(string_split(text, ' '),
                           w -> w IN ('le','la','et','les','une'))) AS s_fr
                FROM documents
            ),
            pr AS (
                SELECT gold,
                       CASE WHEN greatest(s_de, s_en, s_es, s_fr) = 0
                                THEN 'unknown'
                            WHEN s_de = greatest(s_de, s_en, s_es, s_fr)
                                THEN 'de'
                            WHEN s_en = greatest(s_de, s_en, s_es, s_fr)
                                THEN 'en'
                            WHEN s_es = greatest(s_de, s_en, s_es, s_fr)
                                THEN 'es'
                            ELSE 'fr' END AS pred
                FROM s
            ),
            conf AS (SELECT gold, pred, COUNT(*) AS c FROM pr GROUP BY 1, 2),
            rr AS (SELECT gold AS cls, SUM(c) AS r FROM conf GROUP BY 1),
            kk AS (SELECT pred AS cls, SUM(c) AS k FROM conf GROUP BY 1),
            pe AS (
                SELECT SUM(CAST(COALESCE(r, 0) AS HUGEINT)
                           * COALESCE(k, 0)) AS pe_num
                FROM rr FULL OUTER JOIN kk USING (cls)
            ),
            t AS (
                SELECT SUM(c) AS n_docs,
                       SUM(CASE WHEN gold = pred THEN c ELSE 0 END)
                           AS n_agree
                FROM conf
            )
            SELECT CAST(n_docs AS BIGINT) AS n_docs,
                   CAST(n_agree AS BIGINT) AS n_agree,
                   CAST(CASE WHEN CAST(n_docs AS HUGEINT) * n_docs - pe_num
                                  = 0 THEN 0
                        ELSE ((CAST(n_docs AS HUGEINT) * n_agree - pe_num)
                              * 1000000)
                             // (CAST(n_docs AS HUGEINT) * n_docs - pe_num)
                        END AS BIGINT) AS kappa_ppm,
                   CAST((n_agree * 1000000) // n_docs AS BIGINT)
                       AS agreement_ppm
            FROM t, pe
        """,
        "q182_pseudonymize_audit": """
            WITH p AS (
                SELECT user_id AS k,
                       md5('s1:' || CAST(user_id AS VARCHAR)) AS ps
                FROM events
            ),
            per AS (
                SELECT ps, COUNT(DISTINCT k) AS n_keys, COUNT(*) AS n_rows
                FROM p GROUP BY 1
            )
            SELECT CAST(SUM(n_rows) AS BIGINT) AS n_rows,
                   CAST(COUNT(*) AS BIGINT) AS n_pseudonyms,
                   CAST(SUM(n_keys) AS BIGINT) AS n_keys,
                   CAST(SUM(CASE WHEN n_keys > 1 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_collisions
            FROM per
        """,
        "q183_k_anonymity": """
            WITH g AS (
                SELECT c_nationkey, c_mktsegment, COUNT(*) AS gs
                FROM customer GROUP BY 1, 2
            ),
            h AS (
                SELECT CASE WHEN gs = 1 THEN '1'
                            WHEN gs < 5 THEN '2-4'
                            WHEN gs < 10 THEN '5-9'
                            ELSE '10+' END AS bucket,
                       COUNT(*) AS n_groups, SUM(gs) AS n_rows,
                       MIN(gs) AS min_group
                FROM g GROUP BY 1
            )
            SELECT bucket,
                   CAST(n_groups AS BIGINT) AS n_groups,
                   CAST(n_rows AS BIGINT) AS n_rows,
                   CAST((n_rows * 1000000) // SUM(n_rows) OVER ()
                        AS BIGINT) AS rows_ppm,
                   CAST(min_group AS BIGINT) AS min_group
            FROM h
        """,
        "q185_bucket_balance": _bucket_balance_oracle(BAL_PLANES, 64),
        "q186_split_balance": f"""
            WITH b AS (
                SELECT source AS stratum,
                       CAST(concat('0x', substr(md5('split0:'
                            || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
                           % 1000000 AS bucket
                FROM documents
            ),
            a AS (
                SELECT stratum,
                       CASE WHEN bucket < {int(0.8 * 1000000)} THEN 'train'
                            WHEN bucket < {int(0.9 * 1000000)} THEN 'val'
                            ELSE 'test' END AS split
                FROM b
            ),
            cells AS (
                SELECT stratum, split, COUNT(*) AS o FROM a GROUP BY 1, 2
            ),
            grid AS (
                SELECT s.stratum, v.split
                FROM (SELECT DISTINCT stratum FROM cells) s
                CROSS JOIN (VALUES ('train'), ('val'), ('test')) v(split)
            ),
            dense AS (
                SELECT g.stratum, g.split, COALESCE(c.o, 0) AS o
                FROM grid g LEFT JOIN cells c USING (stratum, split)
            ),
            m AS (
                SELECT *,
                       SUM(o) OVER () AS n,
                       SUM(o) OVER (PARTITION BY stratum) AS r,
                       SUM(o) OVER (PARTITION BY split) AS c
                FROM dense
            ),
            x AS (
                SELECT *,
                       CASE WHEN r = 0 OR c = 0 THEN 0 ELSE
                           (CAST(n AS HUGEINT) * o - CAST(r AS HUGEINT) * c)
                         * (CAST(n AS HUGEINT) * o - CAST(r AS HUGEINT) * c)
                         * 1000 // (CAST(n AS HUGEINT) * r * c) END
                           AS cell_milli
                FROM m
            )
            SELECT CAST(SUM(cell_milli) AS BIGINT) AS chi2_milli,
                   CAST((COUNT(DISTINCT stratum) - 1)
                        * (COUNT(DISTINCT split) - 1) AS BIGINT) AS dof,
                   CAST(ANY_VALUE(n) AS BIGINT) AS n_rows
            FROM x
        """,
        "q187_centroid_drift": f"""
            WITH j AS (
                SELECT d.source AS src,
                       CAST(e.embedding AS DOUBLE[]) AS v
                FROM embeddings e JOIN documents d ON e.vec_id = d.doc_id
            ),
            u AS (
                SELECT src, t.i AS dim,
                       CAST(ROUND(v[t.i] * 1e9) AS BIGINT) AS xn
                FROM j, unnest(range(1, 65)) t(i)
            ),
            pd AS (
                SELECT src, dim, SUM(xn) AS s, COUNT(*) AS n
                FROM u GROUP BY 1, 2
            ),
            sc AS (
                SELECT src,
                       array_agg(ROUND(s * 1.0 / n / 1e9, 6) ORDER BY dim)
                           AS cvec,
                       ANY_VALUE(n) AS n_vecs
                FROM pd GROUP BY src
            ),
            gd AS (
                SELECT dim, ROUND(SUM(s) * 1.0 / SUM(n) / 1e9, 6) AS c
                FROM pd GROUP BY 1
            ),
            gc AS (SELECT array_agg(c ORDER BY dim) AS gvec FROM gd)
            SELECT src AS source,
                   CAST(n_vecs AS BIGINT) AS n_vecs,
                   ROUND(
                       {_FOLD_DOT.format(a="cvec", b="gvec")}
                       / (sqrt({_FOLD_DOT.format(a="cvec", b="cvec")})
                          * sqrt({_FOLD_DOT.format(a="gvec", b="gvec")})),
                       6) AS drift_cos
            FROM sc, gc
        """,
        "q188_attribution": """
            WITH t AS (
                SELECT event_type,
                       LAST_VALUE(CASE WHEN event_type <> 'purchase'
                                  THEN event_type END IGNORE NULLS)
                           OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND 1 PRECEDING) AS channel
                FROM events
            ),
            c AS (
                SELECT COALESCE(channel, 'none') AS channel,
                       COUNT(*) AS n_conversions
                FROM t WHERE event_type = 'purchase' GROUP BY 1
            )
            SELECT channel,
                   CAST(n_conversions AS BIGINT) AS n_conversions,
                   CAST((n_conversions * 1000000) // SUM(n_conversions)
                        OVER () AS BIGINT) AS share_ppm
            FROM c
        """,
        "q189_transition_drift": """
            WITH mid AS (
                SELECT CAST((MIN(CAST(FLOOR(epoch(ts)) AS BIGINT))
                             + MAX(CAST(FLOOR(epoch(ts)) AS BIGINT))) / 2
                            AS BIGINT) AS mid_s
                FROM events
            ),
            p AS (
                SELECT event_type AS t1,
                       LEAD(event_type, 1) OVER
                           (PARTITION BY user_id ORDER BY ts, event_id)
                           AS t2,
                       CAST(FLOOR(epoch(ts)) AS BIGINT) <= mid.mid_s AS first_half
                FROM events, mid
            ),
            cells AS (
                SELECT t1, t2,
                       SUM(CASE WHEN first_half THEN 1 ELSE 0 END) AS c1,
                       SUM(CASE WHEN first_half THEN 0 ELSE 1 END) AS c2
                FROM p WHERE t2 IS NOT NULL GROUP BY 1, 2
            ),
            g AS (
                SELECT *,
                       SUM(c1) OVER () AS n1, SUM(c2) OVER () AS n2
                FROM cells
            ),
            d AS (
                SELECT *,
                       ABS((c1 * 1000000) // n1 - (c2 * 1000000) // n2)
                           AS d_ppm
                FROM g
            ),
            sel AS (
                SELECT SUM(d_ppm) AS l1,
                       MAX(struct_pack(d := d_ppm, t1 := t1, t2 := t2))
                           AS w,
                       ANY_VALUE(n1) AS n1, ANY_VALUE(n2) AS n2
                FROM d
            )
            SELECT CAST(l1 AS BIGINT) AS l1_drift_ppm,
                   w.t1 AS worst_t1, w.t2 AS worst_t2,
                   CAST(w.d AS BIGINT) AS worst_d_ppm,
                   CAST(n1 AS BIGINT) AS n_first,
                   CAST(n2 AS BIGINT) AS n_second
            FROM sel
        """,
        "q190_ctx_sweep": """
            WITH per AS (
                SELECT c.ctx,
                       CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
                FROM documents
                CROSS JOIN (VALUES (64), (128), (256), (512)) c(ctx)
            ),
            k AS (SELECT ctx, n_tok, LEAST(n_tok, ctx) AS kept FROM per)
            SELECT CAST(ctx AS BIGINT) AS ctx,
                   CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
                   CAST(SUM(kept) AS BIGINT) AS kept_tokens,
                   CAST(SUM(n_tok - kept) AS BIGINT) AS truncated_tokens,
                   CAST(SUM(ctx - kept) AS BIGINT) AS padding_tokens,
                   CAST((SUM(kept) * 1000000) // SUM(n_tok) AS BIGINT)
                       AS kept_ppm
            FROM k GROUP BY 1
        """,
        "q191_vocab_tail": f"""
            WITH tok AS (
                SELECT source, unnest(string_split(text, ' ')) AS t
                FROM documents
            ),
            vocab AS (
                SELECT source, t, COUNT(*) AS c FROM tok GROUP BY 1, 2
            ),
            lvl AS (
                SELECT source, c, COUNT(*) AS n_at FROM vocab GROUP BY 1, 2
            ),
            cum AS (
                SELECT *,
                       SUM(n_at) OVER (PARTITION BY source ORDER BY c DESC
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                           AS cum_n,
                       SUM(n_at * c) OVER (PARTITION BY source
                           ORDER BY c DESC ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW) AS cum_mass
                FROM lvl
            ),
            head AS (
                SELECT source, MIN(cum_n) AS mn FROM cum
                WHERE cum_n >= {VT_HEAD_K} GROUP BY 1
            ),
            hm AS (
                SELECT c.source,
                       c.cum_mass - (c.cum_n - {VT_HEAD_K}) * c.c
                           AS head_mass
                FROM cum c JOIN head h
                  ON c.source = h.source AND c.cum_n = h.mn
            ),
            tot AS (
                SELECT source, COUNT(*) AS vocab_size, SUM(c) AS n_tokens,
                       SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS n_hapax
                FROM vocab GROUP BY 1
            )
            SELECT t.source,
                   CAST(vocab_size AS BIGINT) AS vocab_size,
                   CAST(n_tokens AS BIGINT) AS n_tokens,
                   CAST(n_hapax AS BIGINT) AS n_hapax,
                   CAST((n_hapax * 1000000) // vocab_size AS BIGINT)
                       AS hapax_ppm,
                   CAST((COALESCE(head_mass, n_tokens) * 1000000)
                        // n_tokens AS BIGINT) AS head_mass_ppm
            FROM tot t LEFT JOIN hm USING (source)
        """,
        "q192_jl_audit": _jl_oracle(JL_PLANES, JL_MAX_DOCS),
        "q193_ece_calibration": f"""
            WITH t AS (
                SELECT string_split(text, ' ') AS words,
                       len(string_split(text, ' ')) AS n,
                       len(list_filter(string_split(text, ' '),
                           w -> w IN ('a', 'the'))) AS stop,
                       len(list_distinct(string_split(text, ' '))) AS nd
                FROM documents
            ),
            m AS (
                SELECT CAST((100 * (n - stop + nd) + n) // (2 * n) AS BIGINT)
                           AS score,
                       CASE WHEN n >= 30 AND n <= 100000
                                 AND (list_sum(list_transform(words,
                                         x -> length(x))) * 1.0 / n)
                                     BETWEEN 2.0 AND 10.0
                                 AND (len(list_filter(words,
                                         x -> x IN ('#', '...'))) * 1.0 / n)
                                     <= 0.1
                                 AND len(list_filter(words,
                                         x -> x IN ('a', 'the'))) >= 2
                            THEN 1 ELSE 0 END AS pass_flag
                FROM t
            ),
            b AS (
                SELECT LEAST(CAST(FLOOR(score * {ECE_BINS} / 100) AS BIGINT),
                             {ECE_BINS - 1}) AS bin,
                       score, pass_flag
                FROM m
            ),
            pb AS (
                SELECT bin, COUNT(*) AS n_docs, SUM(pass_flag) AS pass_docs,
                       SUM(score) AS sum_score
                FROM b GROUP BY 1
            )
            SELECT bin, CAST(n_docs AS BIGINT) AS n_docs,
                   CAST(pass_docs AS BIGINT) AS pass_docs,
                   ROUND(sum_score * 1.0 / (100 * n_docs), 6) AS mean_conf,
                   ROUND(pass_docs * 1.0 / n_docs, 6) AS pass_rate,
                   CAST(ABS(100 * pass_docs - sum_score) AS BIGINT)
                       AS gap_units,
                   ROUND(SUM(ABS(100 * pass_docs - sum_score)) OVER ()
                         / (100.0 * SUM(n_docs) OVER ()), 6) AS ece
            FROM pb
        """,
        "q194_ks_drift": """
            WITH t AS (
                SELECT CAST((100 * (len(string_split(text, ' ')) - len(list_filter(string_split(text, ' '), w -> w IN ('a', 'the'))) + len(list_distinct(string_split(text, ' ')))) + len(string_split(text, ' '))) // (2 * len(string_split(text, ' '))) AS BIGINT) AS score,
                       CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS in_a
                FROM documents
            ),
            c AS (
                SELECT score, SUM(in_a) AS c_a, SUM(1 - in_a) AS c_b
                FROM t GROUP BY 1
            ),
            cum AS (
                SELECT score,
                       SUM(c_a) OVER (ORDER BY score
                           ROWS UNBOUNDED PRECEDING) AS cum_a,
                       SUM(c_b) OVER (ORDER BY score
                           ROWS UNBOUNDED PRECEDING) AS cum_b,
                       SUM(c_a) OVER () AS n_a,
                       SUM(c_b) OVER () AS n_b
                FROM c
            ),
            d AS (
                SELECT score, n_a, n_b,
                       ABS(cum_a * n_b - cum_b * n_a) AS d_num
                FROM cum
            )
            SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
                   ROUND(d_num * 1.0 / (n_a * n_b), 6) AS d_stat,
                   CAST(score AS BIGINT) AS at_score
            FROM d ORDER BY d_num DESC, score ASC LIMIT 1
        """,
        "q195_rfm_segments": """
            WITH pu AS (
                SELECT user_id, MAX(CAST(FLOOR(epoch(ts)) AS BIGINT)) AS last_ts,
                       COUNT(*) AS n_events,
                       SUM(CAST(ROUND(value * 100) AS BIGINT))
                           AS monetary_cents
                FROM events GROUP BY 1
            ),
            rf AS (SELECT MAX(last_ts) AS ref_ts FROM pu),
            pm AS (
                SELECT user_id,
                       (ref_ts - last_ts) // 86400 AS recency_days,
                       n_events, monetary_cents,
                       monetary_cents // 100 AS monetary_dollars
                FROM pu CROSS JOIN rf
            ),
            tr AS (
                SELECT MIN(CASE WHEN cum * 3 >= n THEN v END) AS t1,
                       MIN(CASE WHEN cum * 3 >= 2 * n THEN v END) AS t2
                FROM (SELECT v, SUM(c) OVER (ORDER BY v
                              ROWS UNBOUNDED PRECEDING) AS cum,
                             SUM(c) OVER () AS n
                      FROM (SELECT recency_days AS v, COUNT(*) AS c
                            FROM pm GROUP BY 1))
            ),
            tf AS (
                SELECT MIN(CASE WHEN cum * 3 >= n THEN v END) AS t1,
                       MIN(CASE WHEN cum * 3 >= 2 * n THEN v END) AS t2
                FROM (SELECT v, SUM(c) OVER (ORDER BY v
                              ROWS UNBOUNDED PRECEDING) AS cum,
                             SUM(c) OVER () AS n
                      FROM (SELECT n_events AS v, COUNT(*) AS c
                            FROM pm GROUP BY 1))
            ),
            tm AS (
                SELECT MIN(CASE WHEN cum * 3 >= n THEN v END) AS t1,
                       MIN(CASE WHEN cum * 3 >= 2 * n THEN v END) AS t2
                FROM (SELECT v, SUM(c) OVER (ORDER BY v
                              ROWS UNBOUNDED PRECEDING) AS cum,
                             SUM(c) OVER () AS n
                      FROM (SELECT monetary_dollars AS v, COUNT(*) AS c
                            FROM pm GROUP BY 1))
            ),
            sc AS (
                SELECT pm.monetary_cents,
                       4 - (CASE WHEN recency_days <= tr.t1 THEN 1
                                 WHEN recency_days <= tr.t2 THEN 2
                                 ELSE 3 END) AS r_score,
                       CASE WHEN n_events <= tf.t1 THEN 1
                            WHEN n_events <= tf.t2 THEN 2
                            ELSE 3 END AS f_score,
                       CASE WHEN monetary_dollars <= tm.t1 THEN 1
                            WHEN monetary_dollars <= tm.t2 THEN 2
                            ELSE 3 END AS m_score
                FROM pm CROSS JOIN tr CROSS JOIN tf CROSS JOIN tm
            )
            SELECT CAST(r_score AS BIGINT) AS r_score,
                   CAST(f_score AS BIGINT) AS f_score,
                   CAST(m_score AS BIGINT) AS m_score,
                   CAST(COUNT(*) AS BIGINT) AS n_users,
                   CAST(SUM(monetary_cents) AS BIGINT) AS sum_monetary_cents
            FROM sc GROUP BY 1, 2, 3
        """,
        "q196_markov_attribution": _markov_oracle(MARKOV_STEPS),
        "q197_survival": """
            WITH spans AS (
                SELECT user_id,
                       (MAX(CAST(FLOOR(epoch(ts)) AS BIGINT))
                        - MIN(CAST(FLOOR(epoch(ts)) AS BIGINT))) // 604800 AS week
                FROM events GROUP BY 1
            ),
            weekly AS (
                SELECT week, COUNT(*) AS churned FROM spans GROUP BY 1
            ),
            cum AS (
                SELECT week, churned,
                       SUM(churned) OVER (ORDER BY week
                           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
                           AS at_risk,
                       SUM(churned) OVER () AS n_users
                FROM weekly
            )
            SELECT CAST(week AS BIGINT) AS week,
                   CAST(at_risk AS BIGINT) AS at_risk,
                   CAST(churned AS BIGINT) AS churned,
                   ROUND(churned * 1.0 / at_risk, 6) AS hazard,
                   ROUND((at_risk - churned) * 1.0 / n_users, 6)
                       AS survival_after
            FROM cum
        """,
        "q198_intrinsic_dim": _twonn_oracle(TWONN_MAX_DOCS),
        "q199_doremi_weights": f"""
            WITH tok AS (
                SELECT source, unnest(string_split(text, ' ')) AS term
                FROM documents
            ),
            tf AS (SELECT term, COUNT(*) AS n FROM tok GROUP BY 1),
            tt AS (SELECT SUM(n) AS total FROM tf),
            tn AS (
                SELECT term,
                       CAST(ROUND(-ln(n * 1.0 / total) * 1000000000)
                            AS BIGINT) AS nll9
                FROM tf CROSS JOIN tt
            ),
            ps AS (
                SELECT source, COUNT(*) AS n_tokens, SUM(nll9) AS sum_nll9
                FROM tok JOIN tn USING (term) GROUP BY 1
            ),
            sc AS (
                SELECT source, n_tokens,
                       sum_nll9 * 1.0 / n_tokens / 1e9 AS mean_nll,
                       (SUM(sum_nll9) OVER ()) * 1.0
                           / (SUM(n_tokens) OVER ()) / 1e9 AS corpus_nll
                FROM ps
            ),
            w AS (
                SELECT source, n_tokens, mean_nll,
                       mean_nll - corpus_nll AS excess,
                       exp({DOREMI_ETA} * (mean_nll - corpus_nll)) AS w_raw
                FROM sc
            )
            SELECT source, CAST(n_tokens AS BIGINT) AS n_tokens,
                   ROUND(mean_nll, 6) AS mean_nll,
                   ROUND(excess, 6) AS excess,
                   ROUND(w_raw / SUM(w_raw) OVER (), 6) AS weight
            FROM w
        """,
        "q200_term_burstiness": f"""
            WITH pd AS (
                SELECT doc_id, term, COUNT(*) AS x
                FROM (SELECT doc_id,
                             unnest(string_split(text, ' ')) AS term
                      FROM documents)
                GROUP BY 1, 2
            ),
            nd AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM documents),
            st AS (
                SELECT term, COUNT(*) AS df, SUM(x) AS sx,
                       SUM(x * x) AS sx2
                FROM pd GROUP BY 1
            )
            SELECT term, CAST(df AS BIGINT) AS df, CAST(sx AS BIGINT) AS sx,
                   ROUND((n_docs * sx2 - sx * sx) * 1.0 / (n_docs * sx), 6)
                       AS vmr
            FROM st CROSS JOIN nd
            WHERE df >= {BURST_MIN_DF}
            ORDER BY vmr DESC, term ASC LIMIT {BURST_K}
        """,
        "q201_markov_entropy": """
            WITH ev AS (
                SELECT user_id, event_id, event_type AS s,
                       CAST(FLOOR(epoch(ts)) AS BIGINT) AS ts_s
                FROM events
            ),
            sq AS (
                SELECT s, LEAD(s) OVER (PARTITION BY user_id
                                        ORDER BY ts_s, event_id) AS s2
                FROM ev
            ),
            h AS (
                SELECT s, s2, COUNT(*) AS n FROM sq
                WHERE s2 IS NOT NULL GROUP BY 1, 2
            ),
            ot AS (SELECT s, SUM(n) AS n_out FROM h GROUP BY 1),
            tm AS (
                SELECT h.s, ot.n_out,
                       -(n * 1.0 / n_out) * ln(n * 1.0 / n_out) AS h_term
                FROM h JOIN ot USING (s)
            ),
            ps AS (
                SELECT s, MAX(n_out) AS n_out, SUM(h_term) AS h_s
                FROM tm GROUP BY 1
            ),
            fin AS (
                SELECT SUM(n_out) AS n_transitions, COUNT(*) AS n_states,
                       SUM(n_out * h_s) / SUM(n_out) AS h_rate
                FROM ps
            )
            SELECT CAST(n_transitions AS BIGINT) AS n_transitions,
                   CAST(n_states AS BIGINT) AS n_states,
                   ROUND(h_rate, 6) AS entropy_rate,
                   ROUND(exp(h_rate), 6) AS perplexity
            FROM fin
        """,
        "q202_hill_tail": f"""
            WITH top AS (
                SELECT CAST(n_chars AS BIGINT) AS x, doc_id AS i
                FROM documents ORDER BY x DESC, i ASC LIMIT {HILL_K + 1}
            ),
            rk AS (
                SELECT x, ROW_NUMBER() OVER (ORDER BY x DESC, i ASC) AS rn
                FROM top
            ),
            k1 AS (SELECT x AS x_k1 FROM rk WHERE rn = {HILL_K + 1})
            SELECT CAST({HILL_K} AS BIGINT) AS k,
                   CAST(MAX(x_k1) AS BIGINT) AS x_k1,
                   ROUND(SUM(ln(x * 1.0 / x_k1)), 6) AS sum_log_ratio,
                   ROUND({HILL_K} / SUM(ln(x * 1.0 / x_k1)), 6)
                       AS tail_alpha
            FROM rk CROSS JOIN k1 WHERE rn <= {HILL_K}
        """,
        "q203_top_eigen": _eigen_oracle(EIGEN_ITERS),
        "q239_smoothed_popularity": f"""
            WITH pp AS (
                SELECT l_partkey AS partkey,
                       COUNT(DISTINCT l_orderkey) AS n_orders
                FROM lineitem GROUP BY 1
            ),
            g AS (SELECT SUM(n_orders) AS tot, COUNT(*) AS parts FROM pp)
            SELECT CAST(partkey AS BIGINT) AS partkey,
                   CAST(n_orders AS BIGINT) AS n_orders,
                   CAST(((n_orders * parts + {POP_PRIOR} * tot) * 1000000)
                        // ((1 + {POP_PRIOR}) * parts) AS BIGINT)
                       AS smoothed_micro
            FROM pp CROSS JOIN g
            ORDER BY smoothed_micro DESC, partkey ASC LIMIT {POP_K}
        """,
        "q240_tukey_outliers": """
            WITH daily AS (
                SELECT CAST(FLOOR(epoch(ts)) AS BIGINT) // 86400 AS day,
                       COUNT(*) AS c
                FROM events GROUP BY 1
            ),
            cnt AS (SELECT c, COUNT(*) AS nd FROM daily GROUP BY 1),
            cum AS (
                SELECT c,
                       SUM(nd) OVER (ORDER BY c
                           ROWS UNBOUNDED PRECEDING) AS cum,
                       SUM(nd) OVER () AS n
                FROM cnt
            ),
            q AS (
                SELECT MIN(CASE WHEN cum * 4 >= n THEN c END) AS q1,
                       MIN(CASE WHEN cum * 4 >= 3 * n THEN c END) AS q3
                FROM cum
            )
            SELECT CAST(day AS BIGINT) AS day,
                   CAST(c AS BIGINT) AS n_events,
                   CAST(4 * q1 - 6 * (q3 - q1) AS BIGINT) AS fence_lo_x4,
                   CAST(4 * q3 + 6 * (q3 - q1) AS BIGINT) AS fence_hi_x4
            FROM daily CROSS JOIN q
            WHERE 4 * c < 4 * q1 - 6 * (q3 - q1)
               OR 4 * c > 4 * q3 + 6 * (q3 - q1)
        """,
        "q236_stump_eval": f"""
            WITH t AS (
                SELECT source, string_split(text, ' ') AS words,
                       len(string_split(text, ' ')) AS n,
                       len(list_filter(string_split(text, ' '),
                           w -> w IN ('a', 'the'))) AS stop,
                       len(list_distinct(string_split(text, ' '))) AS nd
                FROM documents
            ),
            m AS (
                SELECT source,
                       CASE WHEN CAST((100 * (n - stop + nd) + n) // (2 * n) AS BIGINT)
                                 > {STUMP_T} THEN 1 ELSE 0 END AS yhat,
                       CASE WHEN n >= 30 AND n <= 100000
                                 AND (list_sum(list_transform(words,
                                         x -> length(x))) * 1.0 / n)
                                     BETWEEN 2.0 AND 10.0
                                 AND (len(list_filter(words,
                                         x -> x IN ('#', '...'))) * 1.0 / n)
                                     <= 0.1
                                 AND len(list_filter(words,
                                         x -> x IN ('a', 'the'))) >= 2
                            THEN 1 ELSE 0 END AS y
                FROM t
            ),
            a AS (
                SELECT source, COUNT(*) AS n_docs,
                       SUM(yhat * y) AS tp,
                       SUM(yhat * (1 - y)) AS fp,
                       SUM((1 - yhat) * y) AS fn
                FROM m GROUP BY 1
            )
            SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
                   CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
                   CAST(fn AS BIGINT) AS fn,
                   CAST(CASE WHEN tp + fp > 0
                        THEN (tp * 1000) // (tp + fp) END AS BIGINT)
                       AS precision_milli,
                   CAST(CASE WHEN tp + fn > 0
                        THEN (tp * 1000) // (tp + fn) END AS BIGINT)
                       AS recall_milli,
                   CAST(CASE WHEN 2 * tp + fp + fn > 0
                        THEN (2 * tp * 1000) // (2 * tp + fp + fn)
                        END AS BIGINT) AS f1_milli
            FROM a
        """,
        "q237_seasonal_strength": """
            WITH daily AS (
                SELECT CAST(FLOOR(epoch(ts)) AS BIGINT) // 86400 AS day,
                       COUNT(*) AS c
                FROM events GROUP BY 1
            ),
            base AS (
                SELECT day % 7 AS dow, c,
                       COUNT(*) OVER () AS n,
                       SUM(c) OVER () AS s,
                       COUNT(*) OVER (PARTITION BY day % 7) AS n_d,
                       SUM(c) OVER (PARTITION BY day % 7) AS s_d
                FROM daily
            ),
            agg AS (
                SELECT MAX(n) AS n_days,
                       SUM(CAST(n * c - s AS HUGEINT)
                           * CAST(n * c - s AS HUGEINT)) AS sst_n2,
                       SUM(CAST(CAST(n * s_d - s * n_d AS HUGEINT)
                                * CAST(n * s_d - s * n_d AS HUGEINT)
                                AS DOUBLE)
                           / (CAST(n_d AS DOUBLE) * CAST(n_d AS DOUBLE)))
                           AS ssb_n2
                FROM base
            )
            SELECT CAST(n_days AS BIGINT) AS n_days,
                   CAST(sst_n2 AS DOUBLE) AS sst_x_n,
                   ROUND(ssb_n2, 6) AS ssb_x_n,
                   ROUND(CASE WHEN sst_n2 > 0
                         THEN ssb_n2 / CAST(sst_n2 AS DOUBLE) END, 6)
                       AS strength
            FROM agg
        """,
        "q238_user_entropy": f"""
            WITH ut AS (
                SELECT user_id, event_type, COUNT(*) AS c
                FROM events GROUP BY 1, 2
            ),
            kt AS (SELECT COUNT(DISTINCT event_type) AS k FROM events),
            pu AS (
                SELECT user_id,
                       SUM(-(c * 1.0 / n_u) * ln(c * 1.0 / n_u)) AS h
                FROM (SELECT user_id, c,
                             SUM(c) OVER (PARTITION BY user_id) AS n_u
                      FROM ut)
                GROUP BY 1
            ),
            b AS (
                SELECT LEAST(CAST(FLOOR(h / ln(k) * {UE_BINS}) AS BIGINT),
                             {UE_BINS - 1}) AS bin,
                       CAST(ROUND(h / ln(k) * 1000) AS BIGINT) AS h_milli
                FROM pu CROSS JOIN kt
            )
            SELECT bin, CAST(COUNT(*) AS BIGINT) AS n_users,
                   CAST(MIN(h_milli) AS BIGINT) AS min_entropy_milli,
                   CAST(MAX(h_milli) AS BIGINT) AS max_entropy_milli
            FROM b GROUP BY 1
        """,
        "q235_best_split": """
            WITH t AS (
                SELECT string_split(text, ' ') AS words,
                       len(string_split(text, ' ')) AS n,
                       len(list_filter(string_split(text, ' '),
                           w -> w IN ('a', 'the'))) AS stop,
                       len(list_distinct(string_split(text, ' '))) AS nd
                FROM documents
            ),
            m AS (
                SELECT CAST((100 * (n - stop + nd) + n) // (2 * n) AS BIGINT)
                           AS s,
                       CASE WHEN n >= 30 AND n <= 100000
                                 AND (list_sum(list_transform(words,
                                         x -> length(x))) * 1.0 / n)
                                     BETWEEN 2.0 AND 10.0
                                 AND (len(list_filter(words,
                                         x -> x IN ('#', '...'))) * 1.0 / n)
                                     <= 0.1
                                 AND len(list_filter(words,
                                         x -> x IN ('a', 'the'))) >= 2
                            THEN 1 ELSE 0 END AS p
                FROM t
            ),
            g AS (
                SELECT s, COUNT(*) AS n, SUM(p) AS np FROM m GROUP BY 1
            ),
            cum AS (
                SELECT s,
                       SUM(n) OVER (ORDER BY s
                           ROWS UNBOUNDED PRECEDING) AS nl,
                       SUM(np) OVER (ORDER BY s
                           ROWS UNBOUNDED PRECEDING) AS npl,
                       SUM(n) OVER () AS nt,
                       SUM(np) OVER () AS npt
                FROM g
            ),
            sc AS (
                SELECT s, nl, nt,
                       2.0 * (npt * 1.0 / nt) * (1 - npt * 1.0 / nt)
                       - (nl * 2.0 * (npl * 1.0 / nl)
                              * (1 - npl * 1.0 / nl)
                          + (nt - nl) * 2.0
                              * ((npt - npl) * 1.0 / (nt - nl))
                              * (1 - (npt - npl) * 1.0 / (nt - nl)))
                         / nt AS gain
                FROM cum WHERE nl < nt
            )
            SELECT CAST(s AS BIGINT) AS threshold,
                   CAST(nl AS BIGINT) AS n_left,
                   CAST(nt - nl AS BIGINT) AS n_right,
                   ROUND(gain, 6) AS gini_gain
            FROM sc ORDER BY ROUND(gain, 6) DESC, s ASC LIMIT 1
        """,
        "q232_partition_advisor": f"""
            WITH est AS (
                SELECT 'lineitem' AS tbl, COUNT(*) AS n_rows,
                       SUM(length(l_returnflag) + length(l_linestatus))
                           + 8 * 9 * COUNT(*) AS est_bytes
                FROM lineitem
                UNION ALL
                SELECT 'documents', COUNT(*),
                       SUM(length(text) + length(lang) + length(source))
                           + 8 * 2 * COUNT(*)
                FROM documents
                UNION ALL
                SELECT 'events', COUNT(*),
                       SUM(length(event_type) + length(props))
                           + 8 * 4 * COUNT(*)
                FROM events
                UNION ALL
                SELECT 'embeddings', COUNT(*),
                       SUM(8 * len(embedding)) + 8 * 2 * COUNT(*)
                FROM embeddings
            )
            SELECT tbl AS "table", CAST(n_rows AS BIGINT) AS n_rows,
                   CAST(est_bytes AS BIGINT) AS est_bytes,
                   CAST((est_bytes + {128 * 1024 * 1024} - 1)
                        // {128 * 1024 * 1024} AS BIGINT)
                       AS scan_partitions,
                   CAST(GREATEST((est_bytes + {128 * 1024 * 1024} - 1)
                                 // {128 * 1024 * 1024}, 32) AS BIGINT)
                       AS shuffle_partitions
            FROM est
        """,
        "q233_assortativity": """
            WITH pk AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS p
                        FROM lineitem),
            e AS (SELECT DISTINCT a.p AS src, b.p AS dst
                  FROM pk a JOIN pk b ON a.ok = b.ok AND a.p <> b.p),
            deg AS (SELECT src, COUNT(*) AS d FROM e GROUP BY 1),
            ed AS (
                SELECT CAST(da.d AS HUGEINT) AS x,
                       CAST(db.d AS HUGEINT) AS y
                FROM e
                JOIN deg da ON e.src = da.src
                JOIN deg db ON e.dst = db.src
            ),
            a AS (
                SELECT CAST(COUNT(*) AS HUGEINT) AS m, SUM(x) AS sx,
                       SUM(y) AS sy, SUM(x * x) AS sxx, SUM(y * y) AS syy,
                       SUM(x * y) AS sxy
                FROM ed
            ),
            nn AS (SELECT COUNT(*) AS n_nodes FROM deg)
            SELECT CAST(m AS BIGINT) AS n_edges,
                   CAST(n_nodes AS BIGINT) AS n_nodes,
                   ROUND(CASE WHEN m * sxx - sx * sx > 0
                                   AND m * syy - sy * sy > 0
                         THEN CAST(m * sxy - sx * sy AS DOUBLE)
                              / (sqrt(CAST(m * sxx - sx * sx AS DOUBLE))
                                 * sqrt(CAST(m * syy - sy * sy AS DOUBLE)))
                         END, 6) AS assortativity
            FROM a CROSS JOIN nn
        """,
        "q234_yoy_growth": """
            WITH base AS (
                SELECT n.n_name,
                       CAST(FLOOR(CAST(epoch(o.o_orderdate) AS BIGINT)
                                  / (365.25 * 86400)) AS BIGINT)
                           AS epoch_year,
                       SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT))
                           AS revenue_cents
                FROM orders o
                JOIN customer c ON o.o_custkey = c.c_custkey
                JOIN nation n ON c.c_nationkey = n.n_nationkey
                GROUP BY 1, 2
            ),
            lagd AS (
                SELECT n_name, epoch_year, revenue_cents,
                       LAG(revenue_cents) OVER (PARTITION BY n_name
                           ORDER BY epoch_year) AS prev
                FROM base
            )
            SELECT n_name, CAST(epoch_year + 1970 AS BIGINT) AS year,
                   CAST(revenue_cents AS BIGINT) AS revenue_cents,
                   CAST(CASE WHEN prev > 0
                        THEN ROUND((revenue_cents - prev) * 1000000.0
                                   / prev)
                        END AS BIGINT) AS growth_ppm
            FROM lagd
        """,
        "q229_feature_hash_collisions": f"""
            WITH tf AS (
                SELECT term, COUNT(*) AS n
                FROM (SELECT unnest(string_split(text, ' ')) AS term
                      FROM documents)
                GROUP BY 1
            ),
            bk AS (
                SELECT CAST(concat('0x', substr(md5('fh:' || term), 1, 8))
                            AS BIGINT) % {1 << FH_BITS} AS b,
                       COUNT(*) AS terms, SUM(n) AS mass
                FROM tf GROUP BY 1
            ),
            tot AS (
                SELECT SUM(terms) AS n_terms, SUM(mass) AS n_tokens,
                       COUNT(*) AS n_buckets_used
                FROM bk
            ),
            col AS (
                SELECT COUNT(*) AS collided_buckets,
                       COALESCE(SUM(terms), 0) AS collided_terms,
                       COALESCE(SUM(mass), 0) AS collided_mass
                FROM bk WHERE terms > 1
            )
            SELECT CAST({FH_BITS} AS BIGINT) AS bits,
                   CAST(n_terms AS BIGINT) AS n_terms,
                   CAST(n_buckets_used AS BIGINT) AS n_buckets_used,
                   CAST(collided_buckets AS BIGINT) AS collided_buckets,
                   CAST(collided_terms AS BIGINT) AS collided_terms,
                   CAST((collided_mass * 1000000) // n_tokens AS BIGINT)
                       AS collided_mass_ppm
            FROM tot CROSS JOIN col
        """,
        "q230_mann_kendall": """
            WITH daily AS (
                SELECT CAST(FLOOR(epoch(ts)) AS BIGINT) // 86400 AS day,
                       COUNT(*) AS c
                FROM events GROUP BY 1
            ),
            s AS (
                SELECT SUM(CASE WHEN b.c > a.c THEN 1
                                WHEN b.c < a.c THEN -1 ELSE 0 END) AS s_stat
                FROM daily a JOIN daily b ON a.day < b.day
            ),
            nn AS (SELECT COUNT(*) AS n FROM daily),
            ties AS (
                SELECT COALESCE(SUM(t * (t - 1) * (2 * t + 5)), 0)
                           AS tie_term
                FROM (SELECT c, COUNT(*) AS t FROM daily
                      GROUP BY 1 HAVING COUNT(*) > 1)
            ),
            v AS (
                SELECT n, s_stat,
                       (n * (n - 1) * (2 * n + 5) - tie_term) / 18.0
                           AS var_s
                FROM s CROSS JOIN nn CROSS JOIN ties
            )
            SELECT CAST(n AS BIGINT) AS n_days,
                   CAST(s_stat AS BIGINT) AS s_stat,
                   ROUND(var_s, 6) AS var_s,
                   ROUND(CASE WHEN s_stat > 0
                                  THEN (s_stat - 1) / sqrt(var_s)
                              WHEN s_stat < 0
                                  THEN (s_stat + 1) / sqrt(var_s)
                              ELSE 0.0 END, 6) AS z
            FROM v
        """,
        "q231_sparse_cosine": f"""
            WITH sb AS (
                SELECT doc_id AS did,
                       CAST(concat('0x', substr(md5('sc:'
                            || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
                           % 1000000 AS b
                FROM documents
            ),
            samp AS (
                SELECT did FROM sb ORDER BY b, did LIMIT {SC_MAX_DOCS}
            ),
            tf AS (
                SELECT d.doc_id AS did, term, COUNT(*) AS tf
                FROM documents d
                JOIN samp ON d.doc_id = samp.did,
                unnest(string_split(d.text, ' ')) t(term)
                GROUP BY 1, 2
            ),
            norms AS (
                SELECT did, SUM(tf * tf) AS n2 FROM tf GROUP BY 1
            ),
            dots AS (
                SELECT a.did AS ida, b.did AS idb,
                       SUM(a.tf * b.tf) AS dot
                FROM tf a JOIN tf b ON a.term = b.term AND a.did < b.did
                GROUP BY 1, 2
            )
            SELECT CAST(ida AS BIGINT) AS id_a,
                   CAST(idb AS BIGINT) AS id_b,
                   ROUND(dot * 1.0 / (sqrt(na.n2) * sqrt(nb.n2)), 6)
                       AS cosine
            FROM dots
            JOIN norms na ON na.did = dots.ida
            JOIN norms nb ON nb.did = dots.idb
            ORDER BY cosine DESC, id_a ASC, id_b ASC LIMIT {SC_K}
        """,
        "q226_sole_late_supplier": f"""
            WITH j AS (
                SELECT l.l_orderkey, l.l_suppkey,
                       CASE WHEN CAST(epoch(l.l_shipdate) AS BIGINT)
                                 > CAST(epoch(o.o_orderdate) AS BIGINT)
                                   + {LATE_DAYS * 86400}
                            THEN 1 ELSE 0 END AS late
                FROM lineitem l
                JOIN orders o ON l.l_orderkey = o.o_orderkey
            ),
            per_os AS (
                SELECT l_orderkey, l_suppkey, MAX(late) AS s_late
                FROM j GROUP BY 1, 2
            ),
            per_o AS (
                SELECT l_orderkey, COUNT(*) AS n_supp, SUM(s_late) AS n_late
                FROM per_os GROUP BY 1
            ),
            culprits AS (
                SELECT s.l_suppkey
                FROM per_os s JOIN per_o o USING (l_orderkey)
                WHERE s.s_late = 1 AND o.n_supp > 1 AND o.n_late = 1
            )
            SELECT l_suppkey AS suppkey,
                   CAST(COUNT(*) AS BIGINT) AS numwait
            FROM culprits GROUP BY 1
            ORDER BY numwait DESC, suppkey ASC LIMIT {LATE_K}
        """,
        "q227_l_diversity": f"""
            WITH pairs AS (
                SELECT lang, source, n_chars, COUNT(*) AS c
                FROM documents GROUP BY 1, 2, 3
            ),
            groups AS (
                SELECT lang, source, COUNT(*) AS n_distinct,
                       SUM(c) AS gs
                FROM pairs GROUP BY 1, 2
            ),
            hist AS (
                SELECT CASE WHEN n_distinct = 1 THEN '1'
                            WHEN n_distinct < {LDIV_L}
                                THEN '2-{LDIV_L - 1}'
                            ELSE '{LDIV_L}+' END AS bucket,
                       COUNT(*) AS n_groups, SUM(gs) AS n_rows
                FROM groups GROUP BY 1
            )
            SELECT bucket, CAST(n_groups AS BIGINT) AS n_groups,
                   CAST(n_rows AS BIGINT) AS n_rows,
                   CAST((n_rows * 1000000) // SUM(n_rows) OVER ()
                        AS BIGINT) AS rows_ppm
            FROM hist
        """,
        "q228_cap_sweep": f"""
            WITH ps AS (
                SELECT source, COUNT(*) AS n_docs,
                       SUM(len(string_split(text, ' '))) AS n_tokens
                FROM documents GROUP BY 1
            ),
            sw AS (
                SELECT source, n_docs, n_tokens, t.cap
                FROM ps, unnest([{", ".join(str(c) for c in CAP_SWEEP)}])
                         t(cap)
            )
            SELECT source, CAST(cap AS BIGINT) AS cap,
                   CAST(n_docs AS BIGINT) AS n_docs,
                   CAST(LEAST(cap, n_docs) AS BIGINT) AS kept_docs,
                   CAST((n_tokens * LEAST(cap, n_docs)) // n_docs
                        AS BIGINT) AS kept_tokens_est
            FROM sw
        """,
        "q223_negative_sampling": f"""
            WITH tf AS (
                SELECT term, COUNT(*) AS n
                FROM (SELECT unnest(string_split(text, ' ')) AS term
                      FROM documents)
                GROUP BY 1
            ),
            w AS (
                SELECT term, n,
                       pow(CAST(n AS DOUBLE), {NEG_ALPHA_MILLI / 1000.0})
                           AS w
                FROM tf
            ),
            p AS (
                SELECT term, n, w / SUM(w) OVER () AS prob FROM w
            )
            SELECT term, CAST(n AS BIGINT) AS n, ROUND(prob, 6) AS prob
            FROM p ORDER BY prob DESC, term ASC LIMIT {NEG_K}
        """,
        "q224_sample_size": f"""
            WITH w AS (
                SELECT source, string_split(text, ' ') AS words
                FROM documents
            ),
            m AS (
                SELECT source,
                       len(words) AS n_words,
                       list_sum(list_transform(words, x -> length(x))) * 1.0
                           / len(words) AS mwl,
                       len(list_filter(words, x -> x IN ('#', '...'))) * 1.0
                           / len(words) AS sf,
                       len(list_filter(words, x -> x IN ('a', 'the')))
                           AS sh
                FROM w
            ),
            f AS (
                SELECT source,
                       CASE WHEN n_words >= 30 AND n_words <= 100000
                                 AND mwl BETWEEN 2.0 AND 10.0
                                 AND sf <= 0.1 AND sh >= 2
                            THEN 1 ELSE 0 END AS p
                FROM m
            ),
            a AS (
                SELECT source, COUNT(*) AS n_docs, SUM(p) AS n_pass
                FROM f GROUP BY 1
            ),
            pl AS (
                SELECT source, n_docs, n_pass,
                       n_pass * 1.0 / n_docs AS phat,
                       CAST(CEIL({(1.96) ** 2}
                                 * (n_pass * 1.0 / n_docs)
                                 * (1 - n_pass * 1.0 / n_docs)
                                 / {(20_000 / 1_000_000.0) ** 2})
                            AS BIGINT) AS n_req
                FROM a
            )
            SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
                   ROUND(phat, 6) AS pass_rate,
                   n_req AS n_required,
                   CAST(GREATEST(n_req - n_docs, 0) AS BIGINT) AS deficit
            FROM pl
        """,
        "q225_event_dedup_audit": """
            WITH t AS (SELECT COUNT(*) AS n_events FROM events),
            bi AS (
                SELECT COUNT(*) AS dup_id_groups,
                       COALESCE(SUM(c), 0) AS dup_id_events
                FROM (SELECT event_id, COUNT(*) AS c FROM events
                      GROUP BY 1 HAVING COUNT(*) > 1)
            ),
            bl AS (
                SELECT COUNT(*) AS dup_logical_groups,
                       COALESCE(SUM(c), 0) AS dup_logical_events
                FROM (SELECT user_id, CAST(FLOOR(epoch(ts)) AS BIGINT) AS ts_s,
                             event_type, COUNT(*) AS c
                      FROM events GROUP BY 1, 2, 3 HAVING COUNT(*) > 1)
            )
            SELECT CAST(n_events AS BIGINT) AS n_events,
                   CAST(dup_id_groups AS BIGINT) AS dup_id_groups,
                   CAST(dup_id_events AS BIGINT) AS dup_id_events,
                   CAST(dup_logical_groups AS BIGINT) AS dup_logical_groups,
                   CAST(dup_logical_events AS BIGINT) AS dup_logical_events
            FROM t CROSS JOIN bi CROSS JOIN bl
        """,
        "q220_cramers_v": """
            WITH j AS (
                SELECT e.label, d.lang
                FROM embeddings e JOIN documents d ON e.vec_id = d.doc_id
            ),
            cells AS (
                SELECT label, lang, COUNT(*) AS n_lc FROM j GROUP BY 1, 2
            ),
            grid AS (
                SELECT n_lc,
                       SUM(n_lc) OVER (PARTITION BY label) AS n_l,
                       SUM(n_lc) OVER (PARTITION BY lang) AS n_c,
                       SUM(n_lc) OVER () AS n
                FROM cells
            ),
            ks AS (
                SELECT COUNT(DISTINCT label) AS kl,
                       COUNT(DISTINCT lang) AS kc
                FROM cells
            ),
            agg AS (
                SELECT MAX(n) AS n,
                       SUM(CAST(CAST(n AS HUGEINT) * n_lc * n_lc AS DOUBLE)
                           / (CAST(n_l AS DOUBLE) * CAST(n_c AS DOUBLE)))
                           - MAX(n) AS chi2
                FROM grid
            )
            SELECT CAST(n AS BIGINT) AS n_pairs,
                   CAST(kl AS BIGINT) AS n_labels,
                   CAST(kc AS BIGINT) AS n_langs,
                   ROUND(chi2, 6) AS chi2,
                   ROUND(sqrt(chi2 / (n * (LEAST(kl, kc) - 1))), 6)
                       AS cramers_v
            FROM agg CROSS JOIN ks
        """,
        "q221_dow_bands": """
            WITH daily AS (
                SELECT CAST(FLOOR(epoch(ts)) AS BIGINT) // 86400 AS day,
                       COUNT(*) AS c
                FROM events GROUP BY 1
            ),
            per AS (
                SELECT day % 7 AS dow, c, COUNT(*) AS nd
                FROM daily GROUP BY 1, 2
            ),
            cum AS (
                SELECT dow, c,
                       SUM(nd) OVER (PARTITION BY dow ORDER BY c
                           ROWS UNBOUNDED PRECEDING) AS cum,
                       SUM(nd) OVER (PARTITION BY dow) AS n
                FROM per
            )
            SELECT CAST(dow AS BIGINT) AS dow,
                   CAST(MAX(n) AS BIGINT) AS n_days,
                   CAST(MIN(CASE WHEN cum * 1000000 >= n * 250000
                            THEN c END) AS BIGINT) AS q25,
                   CAST(MIN(CASE WHEN cum * 1000000 >= n * 500000
                            THEN c END) AS BIGINT) AS q50,
                   CAST(MIN(CASE WHEN cum * 1000000 >= n * 750000
                            THEN c END) AS BIGINT) AS q75
            FROM cum GROUP BY 1
        """,
        "q222_head_churn": f"""
            WITH tf AS (
                SELECT doc_id % 2 AS half, term, COUNT(*) AS n
                FROM (SELECT doc_id,
                             unnest(string_split(text, ' ')) AS term
                      FROM documents)
                GROUP BY 1, 2
            ),
            h0 AS (
                SELECT term FROM tf WHERE half = 0
                ORDER BY n DESC, term ASC LIMIT {CHURN_K}
            ),
            h1 AS (
                SELECT term FROM tf WHERE half = 1
                ORDER BY n DESC, term ASC LIMIT {CHURN_K}
            ),
            c AS (
                SELECT COUNT(*) AS n_common FROM h0 JOIN h1 USING (term)
            )
            SELECT CAST({CHURN_K} AS BIGINT) AS k,
                   CAST(n_common AS BIGINT) AS n_common,
                   ROUND(n_common * 1.0 / (2 * {CHURN_K} - n_common), 6)
                       AS jaccard
            FROM c
        """,
        "q218_ucb_source_rank": f"""
            WITH w AS (
                SELECT source, string_split(text, ' ') AS words
                FROM documents
            ),
            m AS (
                SELECT source,
                       len(words) AS n_words,
                       list_sum(list_transform(words, x -> length(x))) * 1.0
                           / len(words) AS mwl,
                       len(list_filter(words, x -> x IN ('#', '...'))) * 1.0
                           / len(words) AS sf,
                       len(list_filter(words, x -> x IN ('a', 'the')))
                           AS sh
                FROM w
            ),
            f AS (
                SELECT source,
                       CASE WHEN n_words >= 30 AND n_words <= 100000
                                 AND mwl BETWEEN 2.0 AND 10.0
                                 AND sf <= 0.1 AND sh >= 2
                            THEN 1 ELSE 0 END AS p
                FROM m
            ),
            a AS (
                SELECT source, COUNT(*) AS n_docs, SUM(p) AS n_pass
                FROM f GROUP BY 1
            ),
            s AS (
                SELECT source, n_docs, n_pass,
                       SUM(n_docs) OVER () AS n_total
                FROM a
            )
            SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
                   CAST(n_pass AS BIGINT) AS n_pass,
                   ROUND(n_pass * 1.0 / n_docs, 6) AS pass_rate,
                   ROUND(sqrt(2.0 * ln(CAST(n_total AS DOUBLE))
                              / CAST(n_docs AS DOUBLE))
                         * {UCB_SCALE_MILLI / 1000.0}, 6) AS bonus,
                   ROUND(n_pass * 1.0 / n_docs
                         + sqrt(2.0 * ln(CAST(n_total AS DOUBLE))
                                / CAST(n_docs AS DOUBLE))
                           * {UCB_SCALE_MILLI / 1000.0}, 6) AS ucb_score
            FROM s
        """,
        "q219_daily_jsd": """
            WITH dtc AS (
                SELECT CAST(FLOOR(epoch(ts)) AS BIGINT) // 86400 AS day,
                       event_type AS t, COUNT(*) AS c
                FROM events GROUP BY 1, 2
            ),
            dtot AS (SELECT day, SUM(c) AS n FROM dtc GROUP BY 1),
            probs AS (
                SELECT dtc.day, t, c * 1.0 / n AS p, n
                FROM dtc JOIN dtot ON dtc.day = dtot.day
            ),
            j AS (
                SELECT COALESCE(c.day, pv.day + 1) AS day,
                       COALESCE(pv.p, 0.0) AS p,
                       COALESCE(c.p, 0.0) AS q,
                       pv.n AS n_prev, c.n AS n_curr
                FROM (SELECT day, t, p, n FROM probs) pv
                FULL OUTER JOIN (SELECT day, t, p, n FROM probs) c
                    ON c.day = pv.day + 1 AND c.t = pv.t
            ),
            terms AS (
                SELECT day, n_prev, n_curr,
                       CASE WHEN p > 0
                            THEN p / 2 * ln(p / ((p + q) / 2)) ELSE 0 END
                       + CASE WHEN q > 0
                            THEN q / 2 * ln(q / ((p + q) / 2)) ELSE 0 END
                           AS term
                FROM j
            ),
            agg AS (
                SELECT day, MAX(n_prev) AS n_prev, MAX(n_curr) AS n_curr,
                       ROUND(SUM(term), 6) AS jsd_nats
                FROM terms GROUP BY 1
            )
            SELECT CAST(day AS BIGINT) AS day,
                   CAST(n_prev AS BIGINT) AS n_prev,
                   CAST(n_curr AS BIGINT) AS n_curr,
                   jsd_nats
            FROM agg
            WHERE n_prev IS NOT NULL AND n_curr IS NOT NULL
        """,
        "q213_crossplit_nll": """
            WITH tok AS (
                SELECT CASE WHEN CAST(concat('0x', substr(md5('split0:'
                                || CAST(doc_id AS VARCHAR)), 1, 8))
                                AS BIGINT) % 1000000 < 800000 THEN 'train'
                            WHEN CAST(concat('0x', substr(md5('split0:'
                                || CAST(doc_id AS VARCHAR)), 1, 8))
                                AS BIGINT) % 1000000 < 900000 THEN 'val'
                            ELSE 'test' END AS split,
                       unnest(string_split(text, ' ')) AS term
                FROM documents
            ),
            tf AS (
                SELECT term, COUNT(*) AS n FROM tok
                WHERE split = 'train' GROUP BY 1
            ),
            st AS (SELECT SUM(n) AS total, COUNT(*) AS v FROM tf),
            vocab AS (
                SELECT d.term, tf.n
                FROM (SELECT DISTINCT term FROM tok) d
                LEFT JOIN tf USING (term)
            ),
            tn AS (
                SELECT term,
                       CAST(ROUND(-ln((COALESCE(n, 0) + 1) * 1.0
                                      / (total + v + 1)) * 1000000000)
                            AS BIGINT) AS nll9
                FROM vocab CROSS JOIN st
            )
            SELECT split, CAST(COUNT(*) AS BIGINT) AS n_tokens,
                   ROUND(SUM(nll9) * 1.0 / COUNT(*) / 1e9, 6) AS mean_nll
            FROM tok JOIN tn USING (term)
            GROUP BY 1
        """,
        "q214_wilson_ci": f"""
            WITH w AS (
                SELECT source, string_split(text, ' ') AS words
                FROM documents
            ),
            m AS (
                SELECT source,
                       len(words) AS n_words,
                       list_sum(list_transform(words, x -> length(x))) * 1.0
                           / len(words) AS mwl,
                       len(list_filter(words, x -> x IN ('#', '...'))) * 1.0
                           / len(words) AS sf,
                       len(list_filter(words, x -> x IN ('a', 'the')))
                           AS sh
                FROM w
            ),
            f AS (
                SELECT source,
                       CASE WHEN n_words >= 30 AND n_words <= 100000
                                 AND mwl BETWEEN 2.0 AND 10.0
                                 AND sf <= 0.1 AND sh >= 2
                            THEN 1 ELSE 0 END AS p
                FROM m
            ),
            a AS (
                SELECT source, COUNT(*) AS n_docs, SUM(p) AS n_pass
                FROM f GROUP BY 1
            ),
            wls AS (
                SELECT source, n_docs, n_pass,
                       n_pass * 1.0 / n_docs AS phat,
                       {WILSON_Z_MILLI / 1000.0} AS z,
                       CAST(n_docs AS DOUBLE) AS nd
                FROM a
            )
            SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
                   CAST(n_pass AS BIGINT) AS n_pass,
                   ROUND(phat, 6) AS pass_rate,
                   ROUND((phat + z*z/(2*nd)
                          - z * sqrt(phat*(1-phat)/nd + z*z/(4*nd*nd)))
                         / (1 + z*z/nd), 6) AS ci_lo,
                   ROUND((phat + z*z/(2*nd)
                          + z * sqrt(phat*(1-phat)/nd + z*z/(4*nd*nd)))
                         / (1 + z*z/nd), 6) AS ci_hi
            FROM wls
        """,
        "q215_daily_acf": f"""
            WITH daily AS (
                SELECT CAST(FLOOR(epoch(ts)) AS BIGINT) // 86400 AS day,
                       COUNT(*) AS c
                FROM events GROUP BY 1
            ),
            cen AS (
                SELECT day, c, SUM(c) OVER () AS sc,
                       COUNT(*) OVER () AS nd
                FROM daily
            ),
            den AS (
                SELECT SUM(CAST(nd * c - sc AS HUGEINT)
                           * CAST(nd * c - sc AS HUGEINT)) AS den
                FROM cen
            ),
            lags AS (SELECT unnest(range(1, {ACF_MAX_LAG + 1})) AS lag),
            pr AS (
                SELECT l.lag,
                       CAST(a.nd * a.c - a.sc AS HUGEINT)
                           * CAST(a.nd * b.c - a.sc AS HUGEINT) AS prod
                FROM cen a
                CROSS JOIN lags l
                JOIN cen b ON b.day = a.day + l.lag
            )
            SELECT CAST(lag AS BIGINT) AS lag,
                   CAST(COUNT(*) AS BIGINT) AS n_pairs,
                   ROUND(CAST(SUM(prod) AS DOUBLE)
                         / CAST(MAX(den.den) AS DOUBLE), 6) AS acf
            FROM pr CROSS JOIN den
            GROUP BY 1
        """,
        "q216_revenue_concentration": f"""
            WITH pu AS (
                SELECT user_id,
                       SUM(CAST(ROUND(value * 100) AS BIGINT)) AS cents
                FROM events GROUP BY 1
            ),
            pd AS (SELECT cents, cents // 100 AS dollars FROM pu),
            cnt AS (
                SELECT dollars, COUNT(*) AS nu, SUM(cents) AS sc
                FROM pd GROUP BY 1
            ),
            cum AS (
                SELECT dollars,
                       SUM(nu) OVER (ORDER BY dollars DESC
                           ROWS UNBOUNDED PRECEDING) AS cum_u,
                       SUM(sc) OVER (ORDER BY dollars DESC
                           ROWS UNBOUNDED PRECEDING) AS cum_c,
                       SUM(nu) OVER () AS n,
                       SUM(sc) OVER () AS total_c
                FROM cnt
            )
            SELECT CAST(n AS BIGINT) AS n_users,
                   CAST(cum_u AS BIGINT) AS top_users,
                   CAST(dollars AS BIGINT) AS boundary_dollars,
                   ROUND(CAST(cum_c AS DOUBLE) / CAST(total_c AS DOUBLE), 6)
                       AS top_share
            FROM cum
            WHERE cum_u * 1000000 >= n * {CONC_TOP_PPM}
            ORDER BY dollars DESC LIMIT 1
        """,
        "q217_hubness": f"""
            WITH e AS (
                SELECT vec_id,
                       list_transform(CAST(embedding AS DOUBLE[]),
                           x -> CAST(FLOOR(x * {similarity.SEM_SCALE})
                                     AS BIGINT)) AS vq
                FROM embeddings
            ),
            sb AS (
                SELECT vec_id, vq,
                       CAST(concat('0x', substr(md5('hub:'
                            || CAST(vec_id AS VARCHAR)), 1, 8)) AS BIGINT)
                           % 1000000 AS b
                FROM e
            ),
            samp AS (
                SELECT vec_id AS vid, vq FROM sb ORDER BY b, vid
                LIMIT {HUB_MAX_DOCS}
            ),
            pr AS (
                SELECT a.vid AS src, b.vid AS dst,
                       list_reduce(list_transform(range(1, 65),
                           i -> (a.vq[i] - b.vq[i]) * (a.vq[i] - b.vq[i])),
                           (x, y) -> x + y) AS dist2
                FROM samp a JOIN samp b ON a.vid <> b.vid
            ),
            knn AS (
                SELECT dst FROM (
                    SELECT dst, ROW_NUMBER() OVER (PARTITION BY src
                        ORDER BY dist2, dst) AS rn
                    FROM pr
                ) WHERE rn <= {HUB_K}
            ),
            indeg AS (SELECT dst, COUNT(*) AS deg FROM knn GROUP BY 1),
            np AS (SELECT COUNT(*) AS n FROM samp)
            SELECT CAST(np.n AS BIGINT) AS n_docs,
                   CAST({HUB_K} AS BIGINT) AS k,
                   CAST(MAX(deg) AS BIGINT) AS max_in_degree,
                   CAST(np.n - COUNT(*) AS BIGINT) AS zero_in_degree,
                   ROUND(MAX(deg) * 1.0 / {HUB_K}, 6) AS skew
            FROM indeg CROSS JOIN np GROUP BY np.n
        """,
        "q209_regional_revenue": f"""
            SELECT n.n_name,
                   CAST(SUM(CAST(ROUND(l.l_extendedprice
                                       * (1 - l.l_discount) * 100)
                                 AS BIGINT)) AS BIGINT) AS revenue_cents
            FROM lineitem l
            JOIN orders o ON l.l_orderkey = o.o_orderkey
            JOIN customer c ON o.o_custkey = c.c_custkey
            JOIN supplier s ON l.l_suppkey = s.s_suppkey
                           AND c.c_nationkey = s.s_nationkey
            JOIN nation n ON c.c_nationkey = n.n_nationkey
            JOIN region r ON n.n_regionkey = r.r_regionkey
            WHERE r.r_name = '{Q5_REGION}'
              AND CAST(epoch(o.o_orderdate) AS BIGINT) >= {Q5_START_S}
              AND CAST(epoch(o.o_orderdate) AS BIGINT) < {Q5_END_S}
            GROUP BY 1
        """,
        "q210_ab_conversion": """
            WITH pu AS (
                SELECT user_id,
                       MAX(CASE WHEN event_type = 'purchase' THEN 1
                           ELSE 0 END) AS converted
                FROM events GROUP BY 1
            ),
            arms AS (
                SELECT CAST(concat('0x', substr(md5('ab0:' || user_id),
                            1, 8)) AS BIGINT) % 2 AS arm,
                       converted
                FROM pu
            ),
            agg AS (
                SELECT arm, COUNT(*) AS n, SUM(converted) AS conv
                FROM arms GROUP BY 1
            ),
            wide AS (
                SELECT MAX(CASE WHEN arm = 0 THEN n END) AS n_a,
                       MAX(CASE WHEN arm = 0 THEN conv END) AS conv_a,
                       MAX(CASE WHEN arm = 1 THEN n END) AS n_b,
                       MAX(CASE WHEN arm = 1 THEN conv END) AS conv_b
                FROM agg
            ),
            z AS (
                SELECT n_a, n_b, conv_a, conv_b,
                       (conv_a + conv_b) * 1.0 / (n_a + n_b) AS p,
                       sqrt(((conv_a + conv_b) * 1.0 / (n_a + n_b))
                            * (1 - (conv_a + conv_b) * 1.0 / (n_a + n_b))
                            * (1.0 / n_a + 1.0 / n_b)) AS se
                FROM wide
            )
            SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
                   CAST(conv_a AS BIGINT) AS conv_a,
                   CAST(conv_b AS BIGINT) AS conv_b,
                   ROUND(CASE WHEN se > 0
                         THEN (conv_a * 1.0 / n_a - conv_b * 1.0 / n_b) / se
                         END, 6) AS z_score
            FROM z
        """,
        "q211_time_spine": """
            WITH daily AS (
                SELECT CAST(FLOOR(epoch(ts)) AS BIGINT) // 86400 AS day,
                       COUNT(*) AS c
                FROM events GROUP BY 1
            ),
            b AS (SELECT MIN(day) AS lo, MAX(day) AS hi FROM daily),
            spine AS (
                SELECT unnest(range(lo, hi + 1)) AS day FROM b
            )
            SELECT CAST(s.day AS BIGINT) AS day,
                   CAST(COALESCE(d.c, 0) AS BIGINT) AS n_events,
                   CAST(CASE WHEN d.c IS NULL THEN 1 ELSE 0 END AS BIGINT)
                       AS is_gap
            FROM spine s LEFT JOIN daily d ON s.day = d.day
        """,
        "q212_char_bigram_entropy": """
            WITH p AS (
                SELECT substr(text, t.i, 2) AS pair
                FROM documents, unnest(range(1, length(text))) t(i)
                WHERE length(text) >= 2
            ),
            pc AS (SELECT pair, COUNT(*) AS n_p FROM p GROUP BY 1),
            t AS (
                SELECT n_p,
                       SUM(n_p) OVER (PARTITION BY substr(pair, 1, 1))
                           AS n_c1,
                       SUM(n_p) OVER () AS n
                FROM pc
            ),
            tm AS (
                SELECT n,
                       (n_p * 1.0 / n)
                           * ln(CAST(n_c1 AS DOUBLE) / CAST(n_p AS DOUBLE))
                           AS term
                FROM t
            )
            SELECT CAST(MAX(n) AS BIGINT) AS n_pairs,
                   CAST(COUNT(*) AS BIGINT) AS n_distinct_pairs,
                   ROUND(SUM(term), 6) AS cond_entropy_nats,
                   ROUND(exp(SUM(term)), 6) AS perplexity
            FROM tm
        """,
        "q205_spearman": """
            WITH sig AS (
                SELECT CAST((100 * (n - stop + nd) + n) // (2 * n) AS BIGINT)
                           AS s,
                       CAST(n AS BIGINT) AS t
                FROM (SELECT len(string_split(text, ' ')) AS n,
                             len(list_filter(string_split(text, ' '),
                                 w -> w IN ('a', 'the'))) AS stop,
                             len(list_distinct(string_split(text, ' ')))
                                 AS nd
                      FROM documents)
            ),
            rs AS (
                SELECT s AS v,
                       2 * COALESCE(SUM(c) OVER (ORDER BY s
                           ROWS BETWEEN UNBOUNDED PRECEDING
                           AND 1 PRECEDING), 0) + c + 1 AS r2s
                FROM (SELECT s, COUNT(*) AS c FROM sig GROUP BY 1)
            ),
            rt AS (
                SELECT t AS v,
                       2 * COALESCE(SUM(c) OVER (ORDER BY t
                           ROWS BETWEEN UNBOUNDED PRECEDING
                           AND 1 PRECEDING), 0) + c + 1 AS r2t
                FROM (SELECT t, COUNT(*) AS c FROM sig GROUP BY 1)
            ),
            j AS (
                SELECT CAST(r2s AS HUGEINT) AS x, CAST(r2t AS HUGEINT) AS y
                FROM sig
                JOIN rs ON sig.s = rs.v
                JOIN rt ON sig.t = rt.v
            ),
            a AS (
                SELECT CAST(COUNT(*) AS HUGEINT) AS n, SUM(x) AS sx,
                       SUM(y) AS sy, SUM(x * x) AS sxx, SUM(y * y) AS syy,
                       SUM(x * y) AS sxy
                FROM j
            )
            SELECT CAST(n AS BIGINT) AS n_docs,
                   ROUND(CASE WHEN n * sxx - sx * sx > 0
                                   AND n * syy - sy * sy > 0
                         THEN CAST(n * sxy - sx * sy AS DOUBLE)
                              / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                                 * sqrt(CAST(n * syy - sy * sy AS DOUBLE)))
                         END, 6) AS rho
            FROM a
        """,
        "q206_halflife": """
            WITH daily AS (
                SELECT CAST(FLOOR(epoch(ts)) AS BIGINT) // 86400 AS day,
                       COUNT(*) AS c
                FROM events GROUP BY 1
            ),
            xy AS (
                SELECT day - MIN(day) OVER () AS x,
                       ln(CAST(c AS DOUBLE)) AS y
                FROM daily
            ),
            a AS (
                SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(x * x) AS sxx,
                       SUM(y) AS sy, SUM(x * y) AS sxy
                FROM xy
            ),
            sl AS (
                SELECT n,
                       CASE WHEN n * sxx - sx * sx > 0
                            THEN (n * sxy - sx * sy) * 1.0
                                 / (n * sxx - sx * sx)
                            END AS slope
                FROM a
            )
            SELECT CAST(n AS BIGINT) AS n_days,
                   ROUND(slope, 6) AS slope,
                   ROUND(CASE WHEN slope < 0 THEN -ln(2.0) / slope END, 6)
                       AS halflife_days
            FROM sl
        """,
        "q207_chao1": """
            WITH mult AS (
                SELECT md5(text) AS h, COUNT(*) AS c
                FROM documents GROUP BY 1
            ),
            a AS (
                SELECT SUM(c) AS n_docs, COUNT(*) AS d,
                       SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS f1,
                       SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS f2
                FROM mult
            )
            SELECT CAST(n_docs AS BIGINT) AS n_docs,
                   CAST(d AS BIGINT) AS distinct_docs,
                   CAST(f1 AS BIGINT) AS f1, CAST(f2 AS BIGINT) AS f2,
                   ROUND(d + (f1 * (f1 - 1)) / (2.0 * (f2 + 1)), 6) AS chao1
            FROM a
        """,
        "q208_lang_source_mi": """
            WITH cells AS (
                SELECT lang, source, COUNT(*) AS n_ls
                FROM documents GROUP BY 1, 2
            ),
            t AS (
                SELECT n_ls,
                       SUM(n_ls) OVER (PARTITION BY lang) AS n_l,
                       SUM(n_ls) OVER (PARTITION BY source) AS n_s,
                       SUM(n_ls) OVER () AS n
                FROM cells
            ),
            tm AS (
                SELECT n,
                       (n_ls * 1.0 / n)
                           * ln((n_ls * 1.0 * n) / (n_l * 1.0 * n_s))
                           AS term
                FROM t
            )
            SELECT CAST(MAX(n) AS BIGINT) AS n_docs,
                   CAST(COUNT(*) AS BIGINT) AS n_cells,
                   ROUND(SUM(term), 6) AS mi_nats
            FROM tm
        """,
        "q204_cusum": """
            WITH daily AS (
                SELECT CAST(FLOOR(epoch(ts)) AS BIGINT) // 86400 AS day,
                       COUNT(*) AS c
                FROM events GROUP BY 1
            ),
            m AS (
                SELECT day, c,
                       (SUM(c * 1000) OVER ()) // (COUNT(*) OVER ())
                           AS mean_milli
                FROM daily
            ),
            p AS (
                SELECT day, c, mean_milli,
                       SUM(c * 1000 - mean_milli) OVER (ORDER BY day
                           ROWS UNBOUNDED PRECEDING) AS p
                FROM m
            ),
            s AS (
                SELECT day, c, mean_milli,
                       p - LEAST(MIN(p) OVER (ORDER BY day
                           ROWS UNBOUNDED PRECEDING), 0) AS s_milli
                FROM p
            )
            SELECT CAST(day AS BIGINT) AS day,
                   CAST(c AS BIGINT) AS n_events,
                   CAST(s_milli AS BIGINT) AS cusum_milli,
                   CAST(CASE WHEN s_milli > mean_milli * 3 THEN 1 ELSE 0 END
                        AS BIGINT) AS flagged
            FROM s
        """,
        "q241_shipping_priority": f"""
            SELECT l.l_orderkey AS orderkey,
                   CAST(epoch(o.o_orderdate) AS BIGINT) AS orderdate_s,
                   CAST(SUM(CAST(ROUND(l.l_extendedprice
                                       * (1 - l.l_discount) * 100)
                                 AS BIGINT)) AS BIGINT) AS revenue_cents
            FROM lineitem l
            JOIN orders o ON l.l_orderkey = o.o_orderkey
            JOIN customer c ON o.o_custkey = c.c_custkey
            WHERE c.c_mktsegment = '{Q3_SEGMENT}'
              AND CAST(epoch(o.o_orderdate) AS BIGINT) < {Q3_CUTOFF_S}
              AND CAST(epoch(l.l_shipdate) AS BIGINT) > {Q3_CUTOFF_S}
            GROUP BY 1, 2
            ORDER BY revenue_cents DESC, orderkey ASC
            LIMIT {Q3_K}
        """,
        "q242_revenue_forecast": f"""
            SELECT CAST(SUM(CAST(ROUND(l_extendedprice * l_discount * 100)
                                 AS BIGINT)) AS BIGINT) AS revenue_cents
            FROM lineitem
            WHERE CAST(epoch(l_shipdate) AS BIGINT) >= {Q6_START_S}
              AND CAST(epoch(l_shipdate) AS BIGINT) < {Q6_END_S}
              AND l_discount >= 0.05 AND l_discount <= 0.07
              AND l_quantity < 24.0
        """,
        "q243_nation_trade_volume": f"""
            SELECT ns.n_name AS supp_nation,
                   nc.n_name AS cust_nation,
                   CAST(year(l.l_shipdate) AS INTEGER) AS ship_year,
                   CAST(SUM(CAST(ROUND(l.l_extendedprice
                                       * (1 - l.l_discount) * 100)
                                 AS BIGINT)) AS BIGINT) AS volume_cents
            FROM lineitem l
            JOIN supplier s ON l.l_suppkey = s.s_suppkey
            JOIN nation ns ON s.s_nationkey = ns.n_nationkey
            JOIN orders o ON l.l_orderkey = o.o_orderkey
            JOIN customer c ON o.o_custkey = c.c_custkey
            JOIN nation nc ON c.c_nationkey = nc.n_nationkey
            WHERE ns.n_name IN ('{Q7_NATION_A}', '{Q7_NATION_B}')
              AND nc.n_name IN ('{Q7_NATION_A}', '{Q7_NATION_B}')
              AND ns.n_name <> nc.n_name
              AND CAST(epoch(l.l_shipdate) AS BIGINT) >= {Q7_START_S}
              AND CAST(epoch(l.l_shipdate) AS BIGINT) < {Q7_END_S}
            GROUP BY 1, 2, 3
        """,
        "q244_market_share": f"""
            WITH flat AS (
                SELECT CAST(year(o.o_orderdate) AS INTEGER) AS order_year,
                       ns.n_name AS supp_nation,
                       CAST(ROUND(l.l_extendedprice
                                  * (1 - l.l_discount) * 100)
                            AS BIGINT) AS rev_cents
                FROM lineitem l
                JOIN part p ON l.l_partkey = p.p_partkey
                JOIN orders o ON l.l_orderkey = o.o_orderkey
                JOIN customer c ON o.o_custkey = c.c_custkey
                JOIN nation nm ON c.c_nationkey = nm.n_nationkey
                JOIN region r ON nm.n_regionkey = r.r_regionkey
                JOIN supplier s ON l.l_suppkey = s.s_suppkey
                JOIN nation ns ON s.s_nationkey = ns.n_nationkey
                WHERE p.p_type = '{Q8_TYPE}'
                  AND r.r_name = '{Q8_REGION}'
                  AND CAST(epoch(o.o_orderdate) AS BIGINT) >= {Q8_START_S}
                  AND CAST(epoch(o.o_orderdate) AS BIGINT) < {Q8_END_S}
            )
            SELECT order_year,
                   CAST(SUM(CASE WHEN supp_nation = '{Q8_NATION}'
                                 THEN rev_cents ELSE 0 END)
                        AS BIGINT) AS target_cents,
                   CAST(SUM(rev_cents) AS BIGINT) AS total_cents,
                   SUM(CASE WHEN supp_nation = '{Q8_NATION}'
                            THEN rev_cents ELSE 0 END)
                       / CAST(SUM(rev_cents) AS DOUBLE) AS mkt_share
            FROM flat GROUP BY 1
        """,
        "q245_product_profit": f"""
            SELECT ns.n_name AS supp_nation,
                   CAST(year(o.o_orderdate) AS INTEGER) AS order_year,
                   CAST(SUM(CAST(ROUND(l.l_extendedprice
                                       * (1 - l.l_discount) * 100)
                                 AS BIGINT)
                            - CAST(ROUND(p.p_retailprice * l.l_quantity
                                         * {Q9_COST} * 100)
                                   AS BIGINT))
                        AS BIGINT) AS profit_cents
            FROM lineitem l
            JOIN part p ON l.l_partkey = p.p_partkey
            JOIN orders o ON l.l_orderkey = o.o_orderkey
            JOIN supplier s ON l.l_suppkey = s.s_suppkey
            JOIN nation ns ON s.s_nationkey = ns.n_nationkey
            WHERE p.p_name LIKE '%{Q9_TOKEN}%'
            GROUP BY 1, 2
        """,
        "q246_returned_items": f"""
            SELECT c.c_custkey AS custkey,
                   c.c_name AS cust_name,
                   CAST(ROUND(c.c_acctbal * 100) AS BIGINT) AS acctbal_cents,
                   n.n_name AS nation_name,
                   CAST(SUM(CAST(ROUND(l.l_extendedprice
                                       * (1 - l.l_discount) * 100)
                                 AS BIGINT)) AS BIGINT) AS revenue_cents
            FROM lineitem l
            JOIN orders o ON l.l_orderkey = o.o_orderkey
            JOIN customer c ON o.o_custkey = c.c_custkey
            JOIN nation n ON c.c_nationkey = n.n_nationkey
            WHERE l.l_returnflag = 'R'
              AND CAST(epoch(o.o_orderdate) AS BIGINT) >= {Q10_START_S}
              AND CAST(epoch(o.o_orderdate) AS BIGINT) < {Q10_END_S}
            GROUP BY 1, 2, 3, 4
            ORDER BY revenue_cents DESC, custkey ASC
            LIMIT {Q10_K}
        """,
        "q247_order_count_distribution": """
            WITH per_cust AS (
                SELECT c.c_custkey,
                       COALESCE(t.cnt, 0) AS c_count
                FROM customer c
                LEFT JOIN (
                    SELECT o_custkey, COUNT(*) AS cnt
                    FROM orders GROUP BY 1
                ) t ON c.c_custkey = t.o_custkey
            )
            SELECT CAST(c_count AS BIGINT) AS c_count,
                   CAST(COUNT(*) AS BIGINT) AS custdist
            FROM per_cust GROUP BY 1
        """,
        "q248_promo_revenue": f"""
            WITH flat AS (
                SELECT p.p_type,
                       CAST(ROUND(l.l_extendedprice
                                  * (1 - l.l_discount) * 100)
                            AS BIGINT) AS rev_cents
                FROM lineitem l
                JOIN part p ON l.l_partkey = p.p_partkey
                WHERE CAST(epoch(l.l_shipdate) AS BIGINT) >= {Q14_START_S}
                  AND CAST(epoch(l.l_shipdate) AS BIGINT) < {Q14_END_S}
            )
            SELECT CAST(SUM(CASE WHEN p_type = 'PROMO'
                                 THEN rev_cents ELSE 0 END)
                        AS BIGINT) AS promo_cents,
                   CAST(SUM(rev_cents) AS BIGINT) AS total_cents,
                   100.0 * SUM(CASE WHEN p_type = 'PROMO'
                                    THEN rev_cents ELSE 0 END)
                       / CAST(SUM(rev_cents) AS DOUBLE) AS promo_pct
            FROM flat
        """,
        "q249_top_supplier": f"""
            WITH rev AS (
                SELECT l_suppkey,
                       CAST(SUM(CAST(ROUND(l_extendedprice
                                           * (1 - l_discount) * 100)
                                     AS BIGINT)) AS BIGINT)
                           AS total_revenue_cents
                FROM lineitem
                WHERE CAST(epoch(l_shipdate) AS BIGINT) >= {Q15_START_S}
                  AND CAST(epoch(l_shipdate) AS BIGINT) < {Q15_END_S}
                GROUP BY 1
            )
            SELECT r.l_suppkey AS suppkey,
                   s.s_name AS supp_name,
                   r.total_revenue_cents
            FROM rev r
            JOIN supplier s ON r.l_suppkey = s.s_suppkey
            WHERE r.total_revenue_cents =
                  (SELECT MAX(total_revenue_cents) FROM rev)
        """,
        "q250_small_qty_revenue": f"""
            WITH l AS (
                SELECT l.l_partkey AS partkey, l.l_quantity,
                       CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)
                           AS price_cents
                FROM lineitem l
                JOIN part p ON l.l_partkey = p.p_partkey
                WHERE p.p_brand = '{Q17_BRAND}'
            ),
            avg_q AS (
                SELECT partkey, AVG(l_quantity) AS avg_qty
                FROM l GROUP BY 1
            )
            SELECT CAST(SUM(l.price_cents) AS BIGINT) AS total_cents,
                   SUM(l.price_cents) / 700.0 AS avg_yearly
            FROM l JOIN avg_q USING (partkey)
            WHERE l.l_quantity < {Q17_FRAC} * avg_q.avg_qty
        """,
        "q251_large_volume_customers": f"""
            WITH big AS (
                SELECT l_orderkey, SUM(l_quantity) AS total_qty
                FROM lineitem GROUP BY 1
                HAVING SUM(l_quantity) > {Q18_MIN_QTY}
            )
            SELECT c.c_name AS cust_name,
                   c.c_custkey AS custkey,
                   b.l_orderkey AS orderkey,
                   CAST(epoch(o.o_orderdate) AS BIGINT) AS orderdate_s,
                   CAST(ROUND(o.o_totalprice * 100) AS BIGINT)
                       AS totalprice_cents,
                   b.total_qty AS total_qty
            FROM big b
            JOIN orders o ON b.l_orderkey = o.o_orderkey
            JOIN customer c ON o.o_custkey = c.c_custkey
            ORDER BY totalprice_cents DESC, orderkey ASC
            LIMIT {Q18_K}
        """,
        "q252_discounted_revenue": f"""
            SELECT CAST(SUM(CAST(ROUND(l.l_extendedprice
                                       * (1 - l.l_discount) * 100)
                                 AS BIGINT)) AS BIGINT) AS revenue_cents
            FROM lineitem l
            JOIN part p ON l.l_partkey = p.p_partkey
            WHERE l.l_quantity >= 1.0 AND l.l_quantity <= 30.0
              AND (
                (p.p_brand = '{Q19_BRANCHES[0][0]}'
                 AND l.l_quantity BETWEEN {Q19_BRANCHES[0][1]}
                                      AND {Q19_BRANCHES[0][2]}
                 AND p.p_size BETWEEN {Q19_BRANCHES[0][3]}
                                  AND {Q19_BRANCHES[0][4]})
                OR
                (p.p_brand = '{Q19_BRANCHES[1][0]}'
                 AND l.l_quantity BETWEEN {Q19_BRANCHES[1][1]}
                                      AND {Q19_BRANCHES[1][2]}
                 AND p.p_size BETWEEN {Q19_BRANCHES[1][3]}
                                  AND {Q19_BRANCHES[1][4]})
                OR
                (p.p_brand = '{Q19_BRANCHES[2][0]}'
                 AND l.l_quantity BETWEEN {Q19_BRANCHES[2][1]}
                                      AND {Q19_BRANCHES[2][2]}
                 AND p.p_size BETWEEN {Q19_BRANCHES[2][3]}
                                  AND {Q19_BRANCHES[2][4]})
              )
        """,
        "q253_dormant_customers": f"""
            WITH avg_pos AS (
                SELECT SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT))
                           AS pos_cents,
                       COUNT(*) AS pos_n
                FROM customer WHERE c_acctbal > 0
            ),
            rich AS (
                SELECT c.c_custkey, c.c_nationkey, c.c_acctbal
                FROM customer c CROSS JOIN avg_pos a
                WHERE CAST(ROUND(c.c_acctbal * 100) AS BIGINT) * a.pos_n
                      > a.pos_cents
            )
            SELECT CAST(r.c_nationkey AS BIGINT) AS nationkey,
                   CAST(COUNT(*) AS BIGINT) AS numcust,
                   CAST(SUM(CAST(ROUND(r.c_acctbal * 100) AS BIGINT))
                        AS BIGINT) AS totacctbal_cents
            FROM rich r
            WHERE NOT EXISTS (
                SELECT 1 FROM orders o
                WHERE o.o_custkey = r.c_custkey
                  AND CAST(epoch(o.o_orderdate) AS BIGINT) >= {Q22_CUTOFF_S}
            )
            GROUP BY 1
        """,
        "q254_min_unit_price_supplier": f"""
            WITH obs AS (
                SELECT l.l_partkey AS partkey,
                       l.l_suppkey AS suppkey,
                       MIN(l.l_extendedprice / l.l_quantity) AS min_unit
                FROM lineitem l
                JOIN part p ON l.l_partkey = p.p_partkey
                WHERE p.p_type = '{Q2_TYPE}' AND p.p_size >= {Q2_MIN_SIZE}
                GROUP BY 1, 2
            ),
            best AS (
                SELECT partkey, MIN(min_unit) AS best_unit
                FROM obs GROUP BY 1
            )
            SELECT o.partkey,
                   o.suppkey,
                   s.s_name AS supp_name,
                   n.n_name AS nation_name,
                   CAST(ROUND(s.s_acctbal * 100) AS BIGINT) AS acctbal_cents,
                   CAST(ROUND(o.min_unit * 1e6) AS BIGINT) AS unit_micros
            FROM obs o
            JOIN best b ON o.partkey = b.partkey
                       AND o.min_unit = b.best_unit
            JOIN supplier s ON o.suppkey = s.s_suppkey
            JOIN nation n ON s.s_nationkey = n.n_nationkey
            ORDER BY acctbal_cents DESC, o.partkey ASC, o.suppkey ASC
            LIMIT {Q2_K}
        """,
        "q255_important_part_value": f"""
            WITH val AS (
                SELECT l.l_partkey AS partkey,
                       CAST(SUM(CAST(ROUND(l.l_extendedprice
                                           * (1 - l.l_discount) * 100)
                                     AS BIGINT)) AS BIGINT) AS value_cents
                FROM lineitem l
                JOIN supplier s ON l.l_suppkey = s.s_suppkey
                JOIN nation n ON s.s_nationkey = n.n_nationkey
                WHERE n.n_name = '{Q11_NATION}'
                GROUP BY 1
            )
            SELECT partkey, value_cents
            FROM val
            WHERE value_cents > (SELECT SUM(value_cents) * {Q11_FRAC}
                                 FROM val)
        """,
        "q256_pricing_summary": f"""
            SELECT l_returnflag, l_linestatus,
                   CAST(SUM(CAST(ROUND(l_quantity * 100) AS BIGINT))
                        AS BIGINT) AS sum_qty_cents,
                   CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT))
                        AS BIGINT) AS sum_base_cents,
                   CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount)
                                       * 100) AS BIGINT))
                        AS BIGINT) AS sum_disc_cents,
                   CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount)
                                       * (1 + l_tax) * 100) AS BIGINT))
                        AS BIGINT) AS sum_charge_cents,
                   SUM(CAST(ROUND(l_quantity * 100) AS BIGINT))
                       / CAST(COUNT(*) AS DOUBLE) / 100.0 AS avg_qty,
                   SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT))
                       / CAST(COUNT(*) AS DOUBLE) / 100.0 AS avg_price,
                   SUM(CAST(ROUND(l_discount * 100) AS BIGINT))
                       / CAST(COUNT(*) AS DOUBLE) / 100.0 AS avg_disc,
                   CAST(COUNT(*) AS BIGINT) AS count_order
            FROM lineitem
            WHERE CAST(epoch(l_shipdate) AS BIGINT) <= {Q1_CUTOFF_S}
            GROUP BY 1, 2
        """,
        "q257_late_order_priority": f"""
            SELECT o.o_orderpriority,
                   CAST(COUNT(*) AS BIGINT) AS order_count
            FROM orders o
            WHERE CAST(epoch(o.o_orderdate) AS BIGINT) >= {Q4_START_S}
              AND CAST(epoch(o.o_orderdate) AS BIGINT) < {Q4_END_S}
              AND EXISTS (
                SELECT 1 FROM lineitem l
                WHERE l.l_orderkey = o.o_orderkey
                  AND l.l_shipdate > o.o_orderdate
                      + INTERVAL {Q4_GRACE_DAYS} DAY
              )
            GROUP BY 1
        """,
        "q258_part_supplier_counts": f"""
            WITH pairs AS (
                SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
            )
            SELECT p.p_brand, p.p_type, p.p_size,
                   CAST(COUNT(DISTINCT pr.l_suppkey) AS BIGINT)
                       AS supplier_cnt
            FROM pairs pr
            JOIN part p ON pr.l_partkey = p.p_partkey
            WHERE p.p_type <> '{Q16_EXCLUDE_TYPE}'
            GROUP BY 1, 2, 3
            ORDER BY supplier_cnt DESC, p.p_brand ASC, p.p_type ASC,
                     p.p_size ASC
            LIMIT {Q16_K}
        """,
        "q259_excess_shippers": f"""
            WITH l AS (
                SELECT l_partkey, l_suppkey,
                       CAST(ROUND(l_quantity * 100) AS BIGINT) AS q
                FROM lineitem
                WHERE CAST(epoch(l_shipdate) AS BIGINT) >= {Q20_START_S}
                  AND CAST(epoch(l_shipdate) AS BIGINT) < {Q20_END_S}
            ),
            ps AS (
                SELECT l_partkey, l_suppkey, CAST(SUM(q) AS BIGINT) AS sq
                FROM l GROUP BY 1, 2
            ),
            p AS (
                SELECT l_partkey, CAST(SUM(sq) AS BIGINT) AS pq
                FROM ps GROUP BY 1
            ),
            dom AS (
                SELECT ps.l_suppkey,
                       CAST(COUNT(*) AS BIGINT) AS dominated_parts
                FROM ps JOIN p USING (l_partkey)
                WHERE ps.sq * 1000 > p.pq * {int(round(Q20_FRAC * 1000))}
                GROUP BY 1
            )
            SELECT s.s_suppkey AS suppkey,
                   s.s_name AS supp_name,
                   n.n_name AS nation_name,
                   d.dominated_parts
            FROM dom d
            JOIN supplier s ON d.l_suppkey = s.s_suppkey
            JOIN nation n ON s.s_nationkey = n.n_nationkey
        """,
        "q260_zorder_layout": f"""
            WITH pts AS (
                SELECT CAST(epoch_ms(ts) AS BIGINT) AS x,
                       CAST(user_id AS BIGINT) AS y
                FROM events
            ),
            frame AS (
                SELECT MIN(x) AS x_min, MAX(x) AS x_max,
                       MIN(y) AS y_min, MAX(y) AS y_max
                FROM pts
            ),
            norm AS (
                SELECT x, y,
                       ((x - x_min) * {1 << ZO_BITS})
                           // (x_max - x_min + 1) AS ux,
                       ((y - y_min) * {1 << ZO_BITS})
                           // (y_max - y_min + 1) AS uy
                FROM pts CROSS JOIN frame
            ),
            keyed AS (
                SELECT x, y,
                       {{morton}} >> {2 * (ZO_BITS - ZO_CELL_BITS)}
                           AS bucket
                FROM norm
            ),
            stats AS (
                SELECT CAST(bucket AS BIGINT) AS bucket,
                       CAST(COUNT(*) AS BIGINT) AS n,
                       CAST(MIN(x) AS BIGINT) AS min_x,
                       CAST(MAX(x) AS BIGINT) AS max_x,
                       CAST(MIN(y) AS BIGINT) AS min_y,
                       CAST(MAX(y) AS BIGINT) AS max_y
                FROM keyed GROUP BY 1
            )
            SELECT bucket, n, min_x, max_x, min_y, max_y,
                   CAST(CASE WHEN max_x >= {ZO_BOX[0]}
                              AND min_x <= {ZO_BOX[1]}
                              AND max_y >= {ZO_BOX[2]}
                              AND min_y <= {ZO_BOX[3]}
                         THEN 1 ELSE 0 END AS BIGINT) AS must_read
            FROM stats
        """.replace(
            "{morton}", layout.morton_sql("ux", "uy", ZO_BITS)
        ),
        "q261_centroid_silhouette": """
            WITH e AS (
                SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
                FROM embeddings
            ),
            dims AS (
                SELECT e.label AS clabel, t.i AS dim, e.v[t.i] AS x
                FROM e, unnest(range(1, len(e.v) + 1)) t(i)
            ),
            cent AS (
                SELECT clabel, dim,
                       CAST(ROUND(ROUND(
                           SUM(CAST(ROUND(x * 1000000000) AS BIGINT)) * 1.0
                           / COUNT(*) / 1000000000.0, 6) * 1000000)
                           AS BIGINT) AS cm
                FROM dims GROUP BY 1, 2
            ),
            vm AS (
                SELECT e.vec_id, e.label, t.i AS dim,
                       CAST(ROUND(e.v[t.i] * 1000000) AS BIGINT) AS xm
                FROM e, unnest(range(1, len(e.v) + 1)) t(i)
            ),
            d2 AS (
                SELECT vm.vec_id, vm.label, c.clabel,
                       SUM((vm.xm - c.cm) * (vm.xm - c.cm)) AS d2
                FROM vm JOIN cent c ON vm.dim = c.dim
                GROUP BY 1, 2, 3
            ),
            d AS (
                SELECT vec_id, label, clabel,
                       ROUND(SQRT(CAST(d2 AS DOUBLE)) / 1000000.0, 6) AS d
                FROM d2
            ),
            ab AS (
                SELECT vec_id, label,
                       MIN(CASE WHEN clabel = label THEN d END) AS a,
                       MIN(CASE WHEN clabel <> label THEN d END) AS b
                FROM d GROUP BY 1, 2
            ),
            s AS (
                SELECT label,
                       CASE WHEN GREATEST(a, b) > 0
                            THEN ROUND((b - a) / GREATEST(a, b), 6)
                            ELSE 0.0 END AS s,
                       a, b
                FROM ab
            )
            SELECT CAST(label AS BIGINT) AS label,
                   CAST(COUNT(*) AS BIGINT) AS n_members,
                   ROUND(SUM(CAST(ROUND(s * 1000000) AS BIGINT)) * 1.0
                         / COUNT(*) / 1000000.0, 6) AS mean_silhouette,
                   ROUND(SUM(CAST(ROUND(a * 1000000) AS BIGINT)) * 1.0
                         / COUNT(*) / 1000000.0, 6) AS mean_intra,
                   ROUND(SUM(CAST(ROUND(b * 1000000) AS BIGINT)) * 1.0
                         / COUNT(*) / 1000000.0, 6) AS mean_inter
            FROM s GROUP BY label
        """,
        "q262_adamic_adar": f"""
            WITH sides AS (
                SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
                FROM lineitem
            ),
            edges AS (
                SELECT DISTINCT a.pk AS src, b.pk AS dst
                FROM sides a JOIN sides b
                  ON a.ok = b.ok AND a.pk < b.pk
            ),
            und AS (
                SELECT src, dst FROM edges
                UNION ALL SELECT dst, src FROM edges
            ),
            deg AS (SELECT src AS u, COUNT(*) AS deg FROM und GROUP BY 1),
            adj AS (
                SELECT und.src AS apex, und.dst AS nbr,
                       CAST(ROUND(1000000000.0
                                  / LN(CAST(deg AS DOUBLE))) AS BIGINT)
                           AS w_nano
                FROM und JOIN deg ON und.src = deg.u
                WHERE deg <= {AA_MAX_DEG} AND deg >= 2
            ),
            wedges AS (
                SELECT a.nbr AS src, b.nbr AS dst, a.w_nano
                FROM adj a JOIN adj b
                  ON a.apex = b.apex AND a.nbr < b.nbr
            ),
            scores AS (
                SELECT src, dst, CAST(SUM(w_nano) AS BIGINT) AS aa_nano,
                       CAST(COUNT(*) AS BIGINT) AS cn
                FROM wedges GROUP BY 1, 2
            ),
            cand AS (
                SELECT s.* FROM scores s
                WHERE NOT EXISTS (
                    SELECT 1 FROM edges e
                    WHERE e.src = s.src AND e.dst = s.dst
                )
            )
            SELECT CAST(src AS BIGINT) AS src,
                   CAST(dst AS BIGINT) AS dst,
                   cn AS common_neighbors,
                   ROUND(aa_nano / 1000000000.0, 6) AS aa_score
            FROM cand
            ORDER BY aa_score DESC, src ASC, dst ASC
            LIMIT {AA_K}
        """,
        "q263_theil_sen_trend": """
            WITH daily AS (
                SELECT CAST(epoch(o_orderdate) AS BIGINT) // 86400 AS day,
                       CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                            AS BIGINT) AS rev
                FROM orders GROUP BY 1
            ),
            slopes AS (
                SELECT (b.rev - a.rev) / (b.day - a.day) AS slope
                FROM daily a JOIN daily b ON a.day < b.day
            ),
            med AS (
                SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
                       quantile_cont(slope, 0.5) AS m
                FROM slopes
            )
            SELECT CAST((SELECT COUNT(*) FROM daily) AS BIGINT) AS n_days,
                   med.n_pairs AS n_pairs,
                   ROUND(med.m, 6) AS slope_cents_per_day,
                   ROUND((SELECT quantile_cont(d.rev - med.m * d.day, 0.5)
                          FROM daily d), 6) AS intercept_cents
            FROM med
        """,
        "q264_layout_advisor": f"""
            WITH pts AS (
                SELECT CAST(epoch_ms(ts) AS BIGINT) AS x,
                       CAST(user_id AS BIGINT) AS y
                FROM events
            ),
            frame AS (
                SELECT MIN(x) AS x_min, MAX(x) AS x_max,
                       MIN(y) AS y_min, MAX(y) AS y_max
                FROM pts
            ),
            norm AS (
                SELECT x, y,
                       ((x - x_min) * {1 << ZO_BITS})
                           // (x_max - x_min + 1) AS ux,
                       ((y - y_min) * {1 << ZO_BITS})
                           // (y_max - y_min + 1) AS uy
                FROM pts CROSS JOIN frame
            ),
            keyed AS (
                SELECT x, y,
                       ux >> {ZO_BITS - 2 * ZO_CELL_BITS} AS b_x,
                       uy >> {ZO_BITS - 2 * ZO_CELL_BITS} AS b_y,
                       {{morton}} >> {2 * (ZO_BITS - ZO_CELL_BITS)} AS b_z
                FROM norm
            ),
            melted AS (
                SELECT 'linear_x' AS layout, b_x AS bucket, x, y FROM keyed
                UNION ALL
                SELECT 'linear_y' AS layout, b_y AS bucket, x, y FROM keyed
                UNION ALL
                SELECT 'zorder' AS layout, b_z AS bucket, x, y FROM keyed
            ),
            stats AS (
                SELECT layout, CAST(bucket AS BIGINT) AS bucket,
                       CAST(COUNT(*) AS BIGINT) AS n,
                       CAST(MIN(x) AS BIGINT) AS min_x,
                       CAST(MAX(x) AS BIGINT) AS max_x,
                       CAST(MIN(y) AS BIGINT) AS min_y,
                       CAST(MAX(y) AS BIGINT) AS max_y
                FROM melted GROUP BY 1, 2
            )
            SELECT layout, bucket, n, min_x, max_x, min_y, max_y,
                   CAST(CASE WHEN max_x >= {ZO_BOX[0]}
                              AND min_x <= {ZO_BOX[1]}
                              AND max_y >= {ZO_BOX[2]}
                              AND min_y <= {ZO_BOX[3]}
                         THEN 1 ELSE 0 END AS BIGINT) AS must_read
            FROM stats
        """.replace(
            "{morton}", layout.morton_sql("ux", "uy", ZO_BITS)
        ),
        "q265_changepoint": """
            WITH daily AS (
                SELECT CAST(FLOOR(epoch(ts)) AS BIGINT) // 86400 AS day,
                       CAST(COUNT(*) AS BIGINT) AS c
                FROM events GROUP BY 1
            ),
            pre AS (
                SELECT day,
                       SUM(c) OVER w AS s1,
                       SUM(c * c) OVER w AS s2,
                       COUNT(*) OVER w AS n1,
                       SUM(c) OVER () AS st,
                       SUM(c * c) OVER () AS s2t,
                       COUNT(*) OVER () AS nt
                FROM daily
                WINDOW w AS (ORDER BY day
                             ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND CURRENT ROW)
            ),
            gains AS (
                SELECT day,
                       CAST(n1 AS BIGINT) AS n_left,
                       CAST(nt - n1 AS BIGINT) AS n_right,
                       ROUND(s1 / n1, 6) AS mean_left,
                       ROUND((st - s1) / (nt - n1), 6) AS mean_right,
                       ROUND((s2t - (st * st) / nt)
                             - (s2 - (s1 * s1) / n1)
                             - ((s2t - s2)
                                - ((st - s1) * (st - s1)) / (nt - n1)),
                             6) AS gain
                FROM pre
                WHERE n1 < nt
            )
            SELECT CAST(day AS BIGINT) AS split_day,
                   n_left, n_right, mean_left, mean_right, gain
            FROM gains
            ORDER BY gain DESC, day ASC
            LIMIT 1
        """,
        "q266_kcore": f"""
            WITH sides AS (
                SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
                FROM lineitem
            ),
            eu AS (
                SELECT DISTINCT a.pk AS src, b.pk AS dst
                FROM sides a JOIN sides b
                  ON a.ok = b.ok AND a.pk < b.pk
            ),
            {graph.kcore_sql("eu", KCORE_K, KCORE_ROUNDS)}
            SELECT CAST(src AS BIGINT) AS node,
                   CAST(COUNT(*) AS BIGINT) AS degree
            FROM e{KCORE_ROUNDS} GROUP BY 1
        """,
        "q267_hampel_outliers": f"""
            WITH daily AS (
                SELECT CAST(FLOOR(epoch(ts)) AS BIGINT) // 86400 AS day,
                       CAST(COUNT(*) AS BIGINT) AS c
                FROM events GROUP BY 1
            ),
            arr AS (
                SELECT day, c,
                       list_sort(list(c) OVER (
                           ORDER BY day
                           RANGE BETWEEN {HAMPEL_W} PRECEDING
                                     AND {HAMPEL_W} FOLLOWING)) AS a
                FROM daily
            ),
            m AS (
                SELECT day, c, a,
                       (a[(len(a) + 1) // 2] + a[len(a) // 2 + 1]) / 2.0
                           AS med
                FROM arr
            ),
            d AS (
                SELECT day, c, med,
                       list_sort(list_transform(a, x -> abs(x - med))) AS da
                FROM m
            ),
            mm AS (
                SELECT day, c, med,
                       (da[(len(da) + 1) // 2] + da[len(da) // 2 + 1]) / 2.0
                           AS mad
                FROM d
            )
            SELECT CAST(day AS BIGINT) AS day, c,
                   ROUND(med, 6) AS med,
                   ROUND(mad, 6) AS mad,
                   CASE WHEN mad > 0
                        THEN ROUND(abs(c - med) / (1.4826 * mad), 6)
                   END AS score,
                   CAST(CASE WHEN mad > 0
                             THEN CASE WHEN abs(c - med) / (1.4826 * mad)
                                            > {HAMPEL_K}
                                       THEN 1 ELSE 0 END
                             ELSE CASE WHEN abs(c - med) > 0
                                       THEN 1 ELSE 0 END
                        END AS BIGINT) AS is_outlier
            FROM mm
        """,
        "q268_compaction_plan": W("manifest_entries") + f"""
            , objs AS (
                SELECT keyspace, table_name,
                       CAST(size AS BIGINT) AS size,
                       lpad(CAST(size AS VARCHAR), 14, '0') || '|'
                           || object_key AS ord
                FROM (SELECT keyspace, table_name, object_key,
                             MAX(CAST(size AS BIGINT)) AS size
                      FROM manifest_entries
                      GROUP BY 1, 2, 3)
            ),
            cum AS (
                SELECT keyspace, table_name, size,
                       SUM(size) OVER (
                           PARTITION BY keyspace, table_name
                           ORDER BY ord
                           ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND CURRENT ROW) AS c
                FROM objs
            ),
            b AS (
                SELECT keyspace, table_name,
                       (c - size) // {COMPACT_TARGET} AS bin, size
                FROM cum
            )
            SELECT keyspace, table_name, CAST(bin AS BIGINT) AS bin,
                   CAST(COUNT(*) AS BIGINT) AS n_files,
                   CAST(SUM(size) AS BIGINT) AS bin_bytes,
                   ROUND(CAST(SUM(size) AS BIGINT)
                         / {float(COMPACT_TARGET)}, 6) AS fill_ratio
            FROM b GROUP BY 1, 2, 3
        """,
        "q269_conformal_coverage": f"""
            WITH t AS (
                SELECT source AS stratum, doc_id AS rid,
                       CAST(n_chars AS BIGINT) AS val,
                       (CAST(concat('0x', substr(md5('{CONF_SEED}:'
                            || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
                        % 1000000) < 500000 AS is_cal
                FROM documents
            ),
            st AS (
                SELECT stratum, CAST(COUNT(*) AS BIGINT) AS n_cal,
                       CAST(SUM(val) AS BIGINT) AS sum_val
                FROM t WHERE is_cal GROUP BY 1
            ),
            sc AS (
                SELECT t.stratum, t.rid, t.is_cal, st.n_cal,
                       abs(t.val - st.sum_val / st.n_cal) AS nc
                FROM t JOIN st USING (stratum)
            ),
            rk AS (
                SELECT stratum, nc, n_cal,
                       ROW_NUMBER() OVER (PARTITION BY stratum
                                          ORDER BY nc, rid) AS rn
                FROM sc WHERE is_cal
            ),
            qh AS (
                SELECT stratum, nc AS q_hat FROM rk
                WHERE rn = LEAST(
                    ((n_cal + 1) * {1000 - CONF_ALPHA_MILLI} + 999) // 1000,
                    n_cal)
            )
            SELECT s.stratum AS stratum,
                   CAST(MAX(s.n_cal) AS BIGINT) AS n_cal,
                   CAST(COUNT(*) AS BIGINT) AS n_test,
                   ROUND(MAX(q.q_hat), 6) AS q_hat,
                   ROUND(SUM(CASE WHEN s.nc <= q.q_hat THEN 1 ELSE 0 END)
                         * 1.0 / COUNT(*), 6) AS coverage,
                   CAST({(1000 - CONF_ALPHA_MILLI) / 1000.0} AS DOUBLE)
                       AS target
            FROM sc s JOIN qh q USING (stratum)
            WHERE NOT s.is_cal
            GROUP BY 1
        """,
        "q270_loso_influence": """
            WITH tok AS (
                SELECT source AS src, unnest(string_split(text, ' ')) AS term
                FROM documents
            ),
            ts AS (
                SELECT src, term, CAST(COUNT(*) AS BIGINT) AS n_st
                FROM tok GROUP BY 1, 2
            ),
            tg AS (
                SELECT term, CAST(SUM(n_st) AS BIGINT) AS n_t
                FROM ts GROUP BY 1
            ),
            g_tot AS (
                SELECT CAST(SUM(n_t) AS BIGINT) AS total,
                       CAST(COUNT(*) AS BIGINT) AS v
                FROM tg
            ),
            j AS (
                SELECT ts.src, ts.n_st, tg.n_t
                FROM ts JOIN tg USING (term)
            ),
            ps AS (
                SELECT src, CAST(SUM(n_st) AS BIGINT) AS total_s,
                       CAST(SUM(CASE WHEN n_t = n_st THEN 1 ELSE 0 END)
                            AS BIGINT) AS excl_s
                FROM j GROUP BY 1
            ),
            psx AS (
                SELECT src, total - total_s AS total_loo,
                       v - excl_s AS v_loo, total, v
                FROM ps CROSS JOIN g_tot
            ),
            c AS (
                SELECT j.src, j.n_st,
                       j.n_st * CAST(ROUND(-LN(
                           CAST(j.n_t - j.n_st + 1 AS DOUBLE)
                           / CAST(p.total_loo + p.v_loo + 1 AS DOUBLE))
                           * 1000000000) AS BIGINT) AS loo9,
                       j.n_st * CAST(ROUND(-LN(
                           CAST(j.n_t + 1 AS DOUBLE)
                           / CAST(p.total + p.v + 1 AS DOUBLE))
                           * 1000000000) AS BIGINT) AS full9
                FROM j JOIN psx p USING (src)
            )
            SELECT src AS source,
                   CAST(SUM(n_st) AS BIGINT) AS n_tokens,
                   ROUND(CAST(SUM(loo9) AS BIGINT)
                         / CAST(SUM(n_st) AS BIGINT)
                         / 1000000000.0, 6) AS mean_nll_loo,
                   ROUND(CAST(SUM(full9) AS BIGINT)
                         / CAST(SUM(n_st) AS BIGINT)
                         / 1000000000.0, 6) AS mean_nll_full,
                   ROUND((CAST(SUM(loo9) AS BIGINT)
                          - CAST(SUM(full9) AS BIGINT))
                         / CAST(SUM(n_st) AS BIGINT)
                         / 1000000000.0, 6) AS delta_nll
            FROM c GROUP BY 1
        """,
        "q271_shipmode_priority": f"""
            SELECT l_returnflag AS mode,
                   CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                                 THEN 1 ELSE 0 END) AS BIGINT)
                       AS high_line_count,
                   CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                                 THEN 0 ELSE 1 END) AS BIGINT)
                       AS low_line_count
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            WHERE l_returnflag IN {Q12_MODES}
              AND CAST(epoch(l_shipdate) AS BIGINT) >= {Q12_START}
              AND CAST(epoch(l_shipdate) AS BIGINT) < {Q12_END}
            GROUP BY 1
        """,
        "q272_brand_rules": f"""
            WITH ob AS (
                SELECT DISTINCT l_orderkey AS ok, p_brand AS brand
                FROM lineitem JOIN part ON l_partkey = p_partkey
            ),
            n AS (SELECT CAST(COUNT(DISTINCT ok) AS BIGINT) AS n_orders
                  FROM ob),
            tot AS (
                SELECT brand, CAST(COUNT(*) AS BIGINT) AS nb
                FROM ob GROUP BY 1
            ),
            p AS (
                SELECT a.brand AS brand_a, b.brand AS brand_b,
                       CAST(COUNT(*) AS BIGINT) AS n_ab
                FROM ob a JOIN ob b
                  ON a.ok = b.ok AND a.brand < b.brand
                GROUP BY 1, 2
                HAVING COUNT(*) >= {BASKET_MIN_PAIR}
            )
            SELECT brand_a, brand_b, n_ab,
                   ta.nb AS n_a, tb.nb AS n_b,
                   ROUND(n_ab * 1.0 / ta.nb, 6) AS conf_a_to_b,
                   ROUND(n_ab * 1.0 / tb.nb, 6) AS conf_b_to_a,
                   ROUND((n.n_orders * 1.0 * n_ab)
                         / (ta.nb * 1.0 * tb.nb), 6) AS lift
            FROM p
            JOIN tot ta ON brand_a = ta.brand
            JOIN tot tb ON brand_b = tb.brand
            CROSS JOIN n
            ORDER BY lift DESC, brand_a ASC, brand_b ASC
            LIMIT {BASKET_K}
        """,
        "q273_salt_advisor": " UNION ALL ".join(f"""
            SELECT '{c}' AS key_col,
                   CAST(SUM(n) AS BIGINT) AS n_rows,
                   CAST(COUNT(*) AS BIGINT) AS n_keys,
                   CAST(MAX(n) AS BIGINT) AS max_key_rows,
                   CAST(FLOOR(MAX(n) * 1000000.0 / SUM(n)) AS BIGINT)
                       AS max_key_ppm,
                   ROUND(MAX(n) * 1.0 * COUNT(*) / SUM(n), 6) AS skew_ratio,
                   CAST(CEIL(MAX(n) * 1.0 / {SALT_TARGET}) AS BIGINT)
                       AS salt_factor
            FROM (SELECT {c} AS k, CAST(COUNT(*) AS BIGINT) AS n
                  FROM lineitem GROUP BY 1)
        """ for c in SALT_KEYS),
        "q274_xcorr_leadlag": f"""
            WITH daily AS (
                SELECT CAST(FLOOR(epoch(ts)) AS BIGINT) // 86400 AS day, event_type,
                       CAST(COUNT(*) AS BIGINT) AS c
                FROM events
                WHERE event_type IN ('{XCORR_A}', '{XCORR_B}')
                GROUP BY 1, 2
            ),
            a AS (SELECT day AS da, c AS ca FROM daily
                  WHERE event_type = '{XCORR_A}'),
            b AS (SELECT day AS db, c AS cb FROM daily
                  WHERE event_type = '{XCORR_B}'),
            lagged AS (
            SELECT CAST(-7 AS BIGINT) AS lag,
                   CAST(COUNT(*) AS BIGINT) AS n_days,
                   CAST(SUM(ca) AS HUGEINT) AS sa,
                   CAST(SUM(cb) AS HUGEINT) AS sb,
                   CAST(SUM(ca * cb) AS HUGEINT) AS sab,
                   CAST(SUM(ca * ca) AS HUGEINT) AS saa,
                   CAST(SUM(cb * cb) AS HUGEINT) AS sbb
            FROM a JOIN b ON b.db = a.da + -7
            UNION ALL SELECT CAST(-6 AS BIGINT) AS lag,
                   CAST(COUNT(*) AS BIGINT) AS n_days,
                   CAST(SUM(ca) AS HUGEINT) AS sa,
                   CAST(SUM(cb) AS HUGEINT) AS sb,
                   CAST(SUM(ca * cb) AS HUGEINT) AS sab,
                   CAST(SUM(ca * ca) AS HUGEINT) AS saa,
                   CAST(SUM(cb * cb) AS HUGEINT) AS sbb
            FROM a JOIN b ON b.db = a.da + -6
            UNION ALL SELECT CAST(-5 AS BIGINT) AS lag,
                   CAST(COUNT(*) AS BIGINT) AS n_days,
                   CAST(SUM(ca) AS HUGEINT) AS sa,
                   CAST(SUM(cb) AS HUGEINT) AS sb,
                   CAST(SUM(ca * cb) AS HUGEINT) AS sab,
                   CAST(SUM(ca * ca) AS HUGEINT) AS saa,
                   CAST(SUM(cb * cb) AS HUGEINT) AS sbb
            FROM a JOIN b ON b.db = a.da + -5
            UNION ALL SELECT CAST(-4 AS BIGINT) AS lag,
                   CAST(COUNT(*) AS BIGINT) AS n_days,
                   CAST(SUM(ca) AS HUGEINT) AS sa,
                   CAST(SUM(cb) AS HUGEINT) AS sb,
                   CAST(SUM(ca * cb) AS HUGEINT) AS sab,
                   CAST(SUM(ca * ca) AS HUGEINT) AS saa,
                   CAST(SUM(cb * cb) AS HUGEINT) AS sbb
            FROM a JOIN b ON b.db = a.da + -4
            UNION ALL SELECT CAST(-3 AS BIGINT) AS lag,
                   CAST(COUNT(*) AS BIGINT) AS n_days,
                   CAST(SUM(ca) AS HUGEINT) AS sa,
                   CAST(SUM(cb) AS HUGEINT) AS sb,
                   CAST(SUM(ca * cb) AS HUGEINT) AS sab,
                   CAST(SUM(ca * ca) AS HUGEINT) AS saa,
                   CAST(SUM(cb * cb) AS HUGEINT) AS sbb
            FROM a JOIN b ON b.db = a.da + -3
            UNION ALL SELECT CAST(-2 AS BIGINT) AS lag,
                   CAST(COUNT(*) AS BIGINT) AS n_days,
                   CAST(SUM(ca) AS HUGEINT) AS sa,
                   CAST(SUM(cb) AS HUGEINT) AS sb,
                   CAST(SUM(ca * cb) AS HUGEINT) AS sab,
                   CAST(SUM(ca * ca) AS HUGEINT) AS saa,
                   CAST(SUM(cb * cb) AS HUGEINT) AS sbb
            FROM a JOIN b ON b.db = a.da + -2
            UNION ALL SELECT CAST(-1 AS BIGINT) AS lag,
                   CAST(COUNT(*) AS BIGINT) AS n_days,
                   CAST(SUM(ca) AS HUGEINT) AS sa,
                   CAST(SUM(cb) AS HUGEINT) AS sb,
                   CAST(SUM(ca * cb) AS HUGEINT) AS sab,
                   CAST(SUM(ca * ca) AS HUGEINT) AS saa,
                   CAST(SUM(cb * cb) AS HUGEINT) AS sbb
            FROM a JOIN b ON b.db = a.da + -1
            UNION ALL SELECT CAST(0 AS BIGINT) AS lag,
                   CAST(COUNT(*) AS BIGINT) AS n_days,
                   CAST(SUM(ca) AS HUGEINT) AS sa,
                   CAST(SUM(cb) AS HUGEINT) AS sb,
                   CAST(SUM(ca * cb) AS HUGEINT) AS sab,
                   CAST(SUM(ca * ca) AS HUGEINT) AS saa,
                   CAST(SUM(cb * cb) AS HUGEINT) AS sbb
            FROM a JOIN b ON b.db = a.da + 0
            UNION ALL SELECT CAST(1 AS BIGINT) AS lag,
                   CAST(COUNT(*) AS BIGINT) AS n_days,
                   CAST(SUM(ca) AS HUGEINT) AS sa,
                   CAST(SUM(cb) AS HUGEINT) AS sb,
                   CAST(SUM(ca * cb) AS HUGEINT) AS sab,
                   CAST(SUM(ca * ca) AS HUGEINT) AS saa,
                   CAST(SUM(cb * cb) AS HUGEINT) AS sbb
            FROM a JOIN b ON b.db = a.da + 1
            UNION ALL SELECT CAST(2 AS BIGINT) AS lag,
                   CAST(COUNT(*) AS BIGINT) AS n_days,
                   CAST(SUM(ca) AS HUGEINT) AS sa,
                   CAST(SUM(cb) AS HUGEINT) AS sb,
                   CAST(SUM(ca * cb) AS HUGEINT) AS sab,
                   CAST(SUM(ca * ca) AS HUGEINT) AS saa,
                   CAST(SUM(cb * cb) AS HUGEINT) AS sbb
            FROM a JOIN b ON b.db = a.da + 2
            UNION ALL SELECT CAST(3 AS BIGINT) AS lag,
                   CAST(COUNT(*) AS BIGINT) AS n_days,
                   CAST(SUM(ca) AS HUGEINT) AS sa,
                   CAST(SUM(cb) AS HUGEINT) AS sb,
                   CAST(SUM(ca * cb) AS HUGEINT) AS sab,
                   CAST(SUM(ca * ca) AS HUGEINT) AS saa,
                   CAST(SUM(cb * cb) AS HUGEINT) AS sbb
            FROM a JOIN b ON b.db = a.da + 3
            UNION ALL SELECT CAST(4 AS BIGINT) AS lag,
                   CAST(COUNT(*) AS BIGINT) AS n_days,
                   CAST(SUM(ca) AS HUGEINT) AS sa,
                   CAST(SUM(cb) AS HUGEINT) AS sb,
                   CAST(SUM(ca * cb) AS HUGEINT) AS sab,
                   CAST(SUM(ca * ca) AS HUGEINT) AS saa,
                   CAST(SUM(cb * cb) AS HUGEINT) AS sbb
            FROM a JOIN b ON b.db = a.da + 4
            UNION ALL SELECT CAST(5 AS BIGINT) AS lag,
                   CAST(COUNT(*) AS BIGINT) AS n_days,
                   CAST(SUM(ca) AS HUGEINT) AS sa,
                   CAST(SUM(cb) AS HUGEINT) AS sb,
                   CAST(SUM(ca * cb) AS HUGEINT) AS sab,
                   CAST(SUM(ca * ca) AS HUGEINT) AS saa,
                   CAST(SUM(cb * cb) AS HUGEINT) AS sbb
            FROM a JOIN b ON b.db = a.da + 5
            UNION ALL SELECT CAST(6 AS BIGINT) AS lag,
                   CAST(COUNT(*) AS BIGINT) AS n_days,
                   CAST(SUM(ca) AS HUGEINT) AS sa,
                   CAST(SUM(cb) AS HUGEINT) AS sb,
                   CAST(SUM(ca * cb) AS HUGEINT) AS sab,
                   CAST(SUM(ca * ca) AS HUGEINT) AS saa,
                   CAST(SUM(cb * cb) AS HUGEINT) AS sbb
            FROM a JOIN b ON b.db = a.da + 6
            UNION ALL SELECT CAST(7 AS BIGINT) AS lag,
                   CAST(COUNT(*) AS BIGINT) AS n_days,
                   CAST(SUM(ca) AS HUGEINT) AS sa,
                   CAST(SUM(cb) AS HUGEINT) AS sb,
                   CAST(SUM(ca * cb) AS HUGEINT) AS sab,
                   CAST(SUM(ca * ca) AS HUGEINT) AS saa,
                   CAST(SUM(cb * cb) AS HUGEINT) AS sbb
            FROM a JOIN b ON b.db = a.da + 7
            )
            SELECT lag, n_days,
                   CASE WHEN (n_days * saa - sa * sa) > 0
                         AND (n_days * sbb - sb * sb) > 0
                        THEN ROUND(
                            CAST(n_days * sab - sa * sb AS DOUBLE)
                            / SQRT(CAST(n_days * saa - sa * sa AS DOUBLE)
                                   * CAST(n_days * sbb - sb * sb AS DOUBLE)),
                            6)
                   END AS r
            FROM lagged
        """,
        "q275_top2_eigen": _eigen2_oracle(EIGEN_ITERS),
        "q276_hll_audit": f"""
            WITH t AS MATERIALIZED (
                SELECT DISTINCT source AS stratum,
                       unnest(string_split(text, ' ')) AS term
                FROM documents
            ),
            ex AS (
                SELECT stratum, CAST(COUNT(*) AS BIGINT) AS n_exact
                FROM t GROUP BY 1
            ),
            hb AS (
                SELECT stratum,
                       CAST(concat('0x', substr(md5(term), 1, 8)) AS BIGINT)
                           % 16777216 AS w,
                       CAST(concat('0x', substr(md5(term), 1, 8)) AS BIGINT)
                           // 16777216 AS j
                FROM t
            ),
            r AS (
                SELECT stratum, j,
                       CASE WHEN w = 0 THEN 25
                            ELSE 25 - length(bin(w)) END AS rk
                FROM hb
            ),
            regs AS (
                SELECT stratum, j, MAX(rk) AS mreg FROM r GROUP BY 1, 2
            ),
            per AS (
                SELECT stratum,
                       CAST(COUNT(*) AS BIGINT) AS n_present,
                       SUM(POWER(2.0, -mreg)) AS s_present
                FROM regs GROUP BY 1
            ),
            est AS (
                SELECT stratum, n_present,
                       {HLL_ALPHA_M2!r} / (s_present + (256 - n_present))
                           AS raw
                FROM per
            ),
            fin AS (
                SELECT stratum,
                       CASE WHEN raw <= 640 AND n_present < 256
                            THEN 256.0 * LN(256.0 / (256 - n_present))
                            ELSE raw END AS hll
                FROM est
            )
            SELECT f.stratum AS stratum, ex.n_exact,
                   ROUND(f.hll, 6) AS hll_est,
                   CAST(ROUND((f.hll - ex.n_exact) * 1000000.0 / ex.n_exact)
                        AS BIGINT) AS err_ppm
            FROM fin f JOIN ex USING (stratum)
        """,
        "q277_brier_decomposition": f"""
            WITH base AS (
                SELECT LEAST(n_chars, {BRIER_CAP}) * 1000 // {BRIER_CAP}
                           AS pm,
                       CASE WHEN lang = '{BRIER_LANG}' THEN 1 ELSE 0 END
                           AS y,
                       LEAST(n_chars, {BRIER_CAP - 1}) * {BRIER_BINS}
                           // {BRIER_CAP} AS bin
                FROM documents
            ),
            bins AS (
                SELECT bin,
                       CAST(COUNT(*) AS BIGINT) AS n_k,
                       CAST(SUM(pm) AS BIGINT) AS sp,
                       CAST(SUM(y) AS BIGINT) AS sy,
                       CAST(SUM((pm - 1000 * y) * (pm - 1000 * y))
                            AS BIGINT) AS sq,
                       CAST(SUM(pm * pm) AS BIGINT) AS spp,
                       CAST(SUM(pm * y) AS BIGINT) AS spy
                FROM base GROUP BY 1
            ),
            per AS (
                SELECT n_k, sy, sq,
                       (sp - 1000 * sy) * (sp - 1000 * sy)
                           / (n_k * 1000000.0) AS rel_term,
                       (spp - sp * sp * 1.0 / n_k) / 1000000.0 AS var_term,
                       (spy - sp * sy * 1.0 / n_k) / 1000.0 AS cov_term,
                       sy * sy / (n_k * 1.0) AS res_sq_term
                FROM bins
            ),
            tot AS (
                SELECT CAST(SUM(n_k) AS BIGINT) AS n_docs,
                       CAST(SUM(sy) AS BIGINT) AS sy,
                       CAST(SUM(sq) AS BIGINT) AS sq,
                       SUM(rel_term) AS rel_num,
                       SUM(var_term) AS var_num,
                       SUM(cov_term) AS cov_num,
                       SUM(res_sq_term) AS res_sq
                FROM per
            )
            SELECT n_docs,
                   ROUND(sq / (n_docs * 1000000.0), 6) AS brier,
                   ROUND(rel_num / n_docs, 6) AS reliability,
                   ROUND(res_sq / n_docs
                         - (sy / (n_docs * 1.0)) * (sy / (n_docs * 1.0)), 6)
                       AS resolution,
                   ROUND(sy / (n_docs * 1.0)
                         * (1 - sy / (n_docs * 1.0)), 6) AS uncertainty,
                   ROUND(var_num / n_docs, 6) AS within_bin_var,
                   ROUND(cov_num / n_docs, 6) AS within_bin_cov
            FROM tot
        """,
        "q278_component_census": """
            WITH RECURSIVE pk AS (
                SELECT DISTINCT l_orderkey AS ok, l_partkey AS p
                FROM lineitem
            ),
            e0 AS MATERIALIZED (
                SELECT src, dst FROM (
                    SELECT a.p AS src, b.p AS dst, COUNT(*) AS nc
                    FROM pk a JOIN pk b ON a.ok = b.ok AND a.p < b.p
                    GROUP BY 1, 2
                ) WHERE nc >= 2
            ),
            sym AS MATERIALIZED (
                SELECT src, dst FROM e0
                UNION
                SELECT dst, src FROM e0
            ),
            reach(src, dst) AS (
                SELECT src, dst FROM sym
                UNION
                SELECT r.src, e.dst FROM reach r JOIN sym e ON r.dst = e.src
            ),
            comp AS (
                SELECT src AS node, LEAST(src, MIN(dst)) AS cid
                FROM reach GROUP BY src
            ),
            sizes AS (
                SELECT cid, CAST(COUNT(*) AS BIGINT) AS csize
                FROM comp GROUP BY 1
            )
            SELECT csize AS component_size,
                   CAST(COUNT(*) AS BIGINT) AS n_components
            FROM sizes GROUP BY 1
        """,
        "q279_join_advisor": _join_advisor_oracle(),
        "q280_sample_quantile_audit": _sqa_oracle(),
        "q281_shuffle_balance": f"""
            WITH census AS MATERIALIZED (
                SELECT k, CAST(COUNT(*) AS BIGINT) AS n,
                       CAST(concat('0x', substr(md5('{SHB_SEED}:'
                           || CAST(k AS VARCHAR)), 1, 8)) AS BIGINT) AS h
                FROM (SELECT {SHB_KEY} AS k FROM lineitem)
                GROUP BY 1
            )
            
            SELECT CAST(8 AS BIGINT) AS n_partitions,
                   CAST(MAX(rows_) AS BIGINT) AS max_rows,
                   ROUND(SUM(rows_) / 8.0, 6) AS mean_rows,
                   ROUND(MAX(rows_) * 8.0 / SUM(rows_), 6) AS imbalance
            FROM (SELECT h % 8 AS pid, SUM(n) AS rows_
                  FROM census GROUP BY 1)
 UNION ALL 
            SELECT CAST(32 AS BIGINT) AS n_partitions,
                   CAST(MAX(rows_) AS BIGINT) AS max_rows,
                   ROUND(SUM(rows_) / 32.0, 6) AS mean_rows,
                   ROUND(MAX(rows_) * 32.0 / SUM(rows_), 6) AS imbalance
            FROM (SELECT h % 32 AS pid, SUM(n) AS rows_
                  FROM census GROUP BY 1)
 UNION ALL 
            SELECT CAST(128 AS BIGINT) AS n_partitions,
                   CAST(MAX(rows_) AS BIGINT) AS max_rows,
                   ROUND(SUM(rows_) / 128.0, 6) AS mean_rows,
                   ROUND(MAX(rows_) * 128.0 / SUM(rows_), 6) AS imbalance
            FROM (SELECT h % 128 AS pid, SUM(n) AS rows_
                  FROM census GROUP BY 1)

        """,
        "q282_partial_corr": """
            WITH base AS (
                SELECT event_type AS g,
                       CAST(ROUND(value * 100) AS HUGEINT) AS x,
                       -- FLOOR before the cast: duck CAST(double->int)
                       -- ROUNDS, Spark's unix_timestamp truncates
                       CAST(CAST(FLOOR(epoch(ts)) AS BIGINT) // 3600 % 24
                            AS HUGEINT) AS y
                FROM events
            ),
            per_g AS (
                SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
                       SUM(x) AS sx, SUM(y) AS sy, SUM(x * y) AS sxy,
                       SUM(x * x) AS sxx, SUM(y * y) AS syy
                FROM base GROUP BY 1
            ),
            tot AS (
                SELECT CAST(SUM(n) AS BIGINT) AS n,
                       CAST(COUNT(*) AS BIGINT) AS n_types,
                       SUM(sx) AS sx, SUM(sy) AS sy, SUM(sxy) AS sxy,
                       SUM(sxx) AS sxx, SUM(syy) AS syy,
                       SUM(CAST(sx AS DOUBLE) * sy / n) AS cxy,
                       SUM(CAST(sx AS DOUBLE) * sx / n) AS cxx,
                       SUM(CAST(sy AS DOUBLE) * sy / n) AS cyy
                FROM per_g
            )
            SELECT n AS n_events, n_types,
                   CASE WHEN (n * sxx - sx * sx) > 0
                         AND (n * syy - sy * sy) > 0
                        THEN ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
                             / SQRT(CAST(n * sxx - sx * sx AS DOUBLE)
                                    * CAST(n * syy - sy * sy AS DOUBLE)), 6)
                   END AS raw_r,
                   CASE WHEN (CAST(sxx AS DOUBLE) - cxx) > 0
                         AND (CAST(syy AS DOUBLE) - cyy) > 0
                        THEN ROUND((CAST(sxy AS DOUBLE) - cxy)
                             / SQRT((CAST(sxx AS DOUBLE) - cxx)
                                    * (CAST(syy AS DOUBLE) - cyy)), 6)
                   END AS partial_r
            FROM tot
        """,
        "q283_theil_decomposition": """
            WITH base AS (
                SELECT source AS g, CAST(n_chars AS BIGINT) AS x
                FROM documents
            ),
            per_g AS (
                SELECT g, CAST(COUNT(*) AS BIGINT) AS n_g,
                       CAST(SUM(x) AS BIGINT) AS sx_g,
                       SUM(x * LN(CAST(x AS DOUBLE))) AS sxlx_g
                FROM base WHERE x > 0 GROUP BY 1
            ),
            z AS (
                SELECT CAST(COUNT(*) AS BIGINT) AS n_zero
                FROM base WHERE x <= 0
            ),
            tot AS (
                SELECT CAST(SUM(n_g) AS BIGINT) AS n,
                       CAST(SUM(sx_g) AS BIGINT) AS sx,
                       SUM(sxlx_g) AS sxlx,
                       SUM(CAST(sx_g AS DOUBLE)
                           * LN(CAST(sx_g AS DOUBLE) / n_g)) AS sx_lmu_g
                FROM per_g
            )
            SELECT n AS n_rows, z.n_zero,
                   ROUND(sx * 1.0 / n, 6) AS mean_val,
                   ROUND(sxlx / (n * (sx * 1.0 / n)) - LN(sx * 1.0 / n), 6)
                       AS theil_total,
                   ROUND(sx_lmu_g / sx - LN(sx * 1.0 / n), 6)
                       AS theil_between,
                   ROUND((sxlx / (n * (sx * 1.0 / n)) - LN(sx * 1.0 / n))
                         - (sx_lmu_g / sx - LN(sx * 1.0 / n)), 6)
                       AS theil_within
            FROM tot CROSS JOIN z
        """,
        "q284_object_lifetimes": W("manifest_entries") + """
            , per_obj AS (
                SELECT keyspace, object_key,
                       CAST(COUNT(*) AS BIGINT) AS n_backups,
                       MIN(ts) AS first_ts, MAX(ts) AS last_ts,
                       MAX(size) AS size
                FROM (SELECT DISTINCT keyspace, object_key, backup_name,
                             CAST(backup_ts AS BIGINT) AS ts,
                             CAST(size AS BIGINT) AS size
                      FROM manifest_entries)
                GROUP BY 1, 2
            )
            SELECT keyspace, n_backups,
                   CAST(COUNT(*) AS BIGINT) AS n_objects,
                   CAST(SUM(size) AS BIGINT) AS total_bytes,
                   ROUND(AVG(last_ts - first_ts), 6) AS mean_lifetime_ms
            FROM per_obj GROUP BY 1, 2
        """,
        "q285_rollup_census": """
            SELECT CAST(FLOOR(epoch(ts)) AS BIGINT) // 86400 AS day, event_type,
                   CAST(GROUPING(CAST(FLOOR(epoch(ts)) AS BIGINT) // 86400,
                                 event_type) AS BIGINT) AS gid,
                   CAST(COUNT(*) AS BIGINT) AS n_events,
                   CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
            FROM events
            GROUP BY ROLLUP(CAST(FLOOR(epoch(ts)) AS BIGINT) // 86400, event_type)
        """,        "q286_robust_profile": f"""
            WITH v AS MATERIALIZED (
                SELECT source AS stratum, CAST(n_chars AS BIGINT) AS x,
                       CAST(doc_id AS VARCHAR) AS rid
                FROM documents
            ),
            c AS (SELECT stratum, CAST(COUNT(*) AS BIGINT) AS n
                  FROM v GROUP BY 1),
            r1 AS (
                SELECT stratum, x,
                       ROW_NUMBER() OVER (PARTITION BY stratum
                                          ORDER BY x, rid) AS rn
                FROM v
            ),
            medsel AS (
                SELECT r1.stratum, CAST(SUM(x) AS BIGINT) AS m2x
                FROM r1 JOIN c USING (stratum)
                WHERE rn = (n + 1) // 2 OR rn = n // 2 + 1
                GROUP BY 1
            ),
            med AS MATERIALIZED (
                SELECT stratum,
                       CASE WHEN c.n % 2 = 1 THEN m2x * 2 ELSE m2x END
                           AS med2x
                FROM medsel JOIN c USING (stratum)
            ),
            d AS MATERIALIZED (
                SELECT v.stratum, rid, ABS(2 * x - med2x) AS d2x
                FROM v JOIN med USING (stratum)
            ),
            r2 AS (
                SELECT stratum, d2x,
                       ROW_NUMBER() OVER (PARTITION BY stratum
                                          ORDER BY d2x, rid) AS rn
                FROM d
            ),
            madsel AS (
                SELECT r2.stratum, CAST(SUM(d2x) AS BIGINT) AS m4x
                FROM r2 JOIN c USING (stratum)
                WHERE rn = (n + 1) // 2 OR rn = n // 2 + 1
                GROUP BY 1
            ),
            mad AS MATERIALIZED (
                SELECT stratum,
                       CASE WHEN c.n % 2 = 1 THEN m4x * 2 ELSE m4x END
                           AS mad4x
                FROM madsel JOIN c USING (stratum)
            ),
            fl AS (
                SELECT d.stratum,
                       CAST(SUM(CASE WHEN d2x * 2
                                          > {K_OUT!r} * mad4x
                                     THEN 1 ELSE 0 END) AS BIGINT)
                           AS n_outliers
                FROM d JOIN mad USING (stratum)
                GROUP BY 1
            )
            SELECT c.stratum AS stratum, c.n,
                   ROUND(med2x / 2.0, 6) AS median_val,
                   ROUND(mad4x / 4.0, 6) AS mad,
                   fl.n_outliers
            FROM c JOIN med USING (stratum) JOIN mad USING (stratum)
            JOIN fl USING (stratum)
        """,
        "q287_hll_window_merge": f"""
            WITH du AS MATERIALIZED (
                SELECT DISTINCT
                       CAST(FLOOR(epoch(ts)) AS BIGINT) // 86400 AS day,
                       CAST(user_id AS VARCHAR) AS u
                FROM events
            ),
            days AS MATERIALIZED (SELECT DISTINCT day FROM du),
            ex AS (
                SELECT c.wd, CAST(COUNT(DISTINCT c.u) AS BIGINT) AS n_exact
                FROM (SELECT du.day + g.i AS wd, du.u
                      FROM du, unnest(range(0, {HWND_DAYS})) g(i)) c
                JOIN days t ON c.wd = t.day
                GROUP BY 1
            ),
            hh AS (
                SELECT day, u,
                       CAST(concat('0x', substr(md5(u), 1, 8)) AS BIGINT)
                           AS hv
                FROM du
            ),
            dregs AS MATERIALIZED (
                SELECT day, hv // 16777216 AS j,
                       MAX(CASE WHEN hv % 16777216 = 0 THEN 25
                                ELSE 25 - length(bin(hv % 16777216)) END)
                           AS mreg
                FROM hh GROUP BY 1, 2
            ),
            wregs AS (
                SELECT c.wd, c.j, MAX(c.mreg) AS mreg
                FROM (SELECT dregs.day + g.i AS wd, j, mreg
                      FROM dregs, unnest(range(0, {HWND_DAYS})) g(i)) c
                JOIN days t ON c.wd = t.day
                GROUP BY 1, 2
            ),
            per AS (
                SELECT wd, CAST(COUNT(*) AS BIGINT) AS n_present,
                       SUM(POWER(2.0, -mreg)) AS s_present
                FROM wregs GROUP BY 1
            ),
            fin AS (
                SELECT wd, n_present,
                       {HLL_ALPHA_M2!r} / (s_present + (256 - n_present))
                           AS raw
                FROM per
            ),
            est AS (
                SELECT wd,
                       CASE WHEN raw <= 640 AND n_present < 256
                            THEN 256.0 * LN(256.0 / (256 - n_present))
                            ELSE raw END AS hll
                FROM fin
            )
            SELECT e.wd AS day, ex.n_exact,
                   ROUND(e.hll, 6) AS hll_est,
                   CAST(ROUND((e.hll - ex.n_exact) * 1000000.0 / ex.n_exact)
                        AS BIGINT) AS err_ppm
            FROM est e JOIN ex ON e.wd = ex.wd
        """,
        "q288_kmv_jaccard": f"""
            WITH t AS MATERIALIZED (
                SELECT DISTINCT source AS s,
                       unnest(string_split(text, ' ')) AS term
                FROM documents
            ),
            th AS MATERIALIZED (
                SELECT s, term,
                       CAST(concat('0x', substr(md5(term), 1, 8)) AS BIGINT)
                           AS h
                FROM t
            ),
            c AS MATERIALIZED (
                SELECT s, CAST(COUNT(*) AS BIGINT) AS n_terms
                FROM t GROUP BY 1
            ),
            sig AS MATERIALIZED (
                SELECT s, h FROM (
                    SELECT s, h,
                           ROW_NUMBER() OVER (PARTITION BY s
                                              ORDER BY h, term) AS rn
                    FROM th
                ) WHERE rn <= {KMV_K}
            ),
            inter AS (
                SELECT a.s AS sa, b.s AS sb,
                       CAST(COUNT(*) AS BIGINT) AS n_inter
                FROM t a JOIN t b ON a.term = b.term AND a.s < b.s
                GROUP BY 1, 2
            ),
            prs AS (
                SELECT a.s AS sa, b.s AS sb,
                       a.n_terms AS n_a, b.n_terms AS n_b
                FROM c a JOIN c b ON a.s < b.s
            ),
            exact AS (
                SELECT p.sa, p.sb, p.n_a, p.n_b,
                       ROUND(COALESCE(i.n_inter, 0) * 1.0
                             / (p.n_a + p.n_b - COALESCE(i.n_inter, 0)), 6)
                           AS exact_j
                FROM prs p LEFT JOIN inter i
                  ON p.sa = i.sa AND p.sb = i.sb
            ),
            merged AS (
                SELECT sa, sb, h, MAX(in_a) AS in_a, MAX(in_b) AS in_b
                FROM (
                    SELECT p.sa, p.sb, g.h, 1 AS in_a, 0 AS in_b
                    FROM prs p JOIN sig g ON g.s = p.sa
                    UNION ALL
                    SELECT p.sa, p.sb, g.h, 0, 1
                    FROM prs p JOIN sig g ON g.s = p.sb
                ) GROUP BY 1, 2, 3
            ),
            topk AS (
                SELECT sa, sb, in_a, in_b FROM (
                    SELECT sa, sb, in_a, in_b,
                           ROW_NUMBER() OVER (PARTITION BY sa, sb
                                              ORDER BY h) AS rn
                    FROM merged
                ) WHERE rn <= {KMV_K}
            ),
            est AS (
                SELECT sa, sb,
                       ROUND(CAST(SUM(in_a * in_b) AS BIGINT) * 1.0
                             / COUNT(*), 6) AS kmv_j
                FROM topk GROUP BY 1, 2
            )
            SELECT e.sa AS src_a, e.sb AS src_b, e.n_a, e.n_b,
                   e.exact_j, est.kmv_j
            FROM exact e JOIN est USING (sa, sb)
        """,
        "q289_rpo_gaps": W("manifests") + f"""
            , g AS (
                SELECT snapshot, CAST(ts AS BIGINT) AS ts,
                       CAST(ts AS BIGINT)
                       - LAG(CAST(ts AS BIGINT)) OVER (
                             PARTITION BY snapshot
                             ORDER BY CAST(ts AS BIGINT), backup_name)
                           AS gap
                FROM manifests
            )
            SELECT snapshot, CAST(COUNT(*) AS BIGINT) AS n_backups,
                   CAST(MAX(gap) AS BIGINT) AS max_gap_ms,
                   ROUND(AVG(gap), 6) AS mean_gap_ms,
                   CAST(SUM(CASE WHEN gap > {RPO_MS} THEN 1 ELSE 0 END)
                        AS BIGINT) AS rpo_violations
            FROM g GROUP BY 1
        """,
        "q291_deletion_impact": f"""
            SELECT CAST(FLOOR(epoch(ts)) AS BIGINT) // 86400 AS day,
                   CAST(COUNT(*) AS BIGINT) AS n_events,
                   CAST(SUM(flag) AS BIGINT) AS n_purged,
                   CAST(SUM(flag) * 1000000 // COUNT(*) AS BIGINT)
                       AS purged_ppm,
                   CAST(SUM(CASE WHEN flag = 1
                                 THEN CAST(ROUND(value * 100) AS BIGINT)
                                 ELSE 0 END) AS BIGINT)
                       AS purged_value_cents
            FROM (
                SELECT ts, value,
                       CASE WHEN CAST(concat('0x', substr(md5('{PURGE_SEED}:'
                                 || CAST(user_id AS VARCHAR)), 1, 8))
                                 AS BIGINT) % 1000000 < {PURGE_PPM}
                            THEN 1 ELSE 0 END AS flag
                FROM events
            ) GROUP BY 1
        """,
        "q292_median_ci": f"""
            WITH vals AS MATERIALIZED (
                SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS v,
                       CAST(o_orderkey AS VARCHAR) AS rid
                FROM orders
            ),
            nn AS (
                SELECT n, lo_rank, n - lo_rank + 1 AS hi_rank FROM (
                    SELECT CAST(COUNT(*) AS BIGINT) AS n,
                           GREATEST(1, CAST(FLOOR(
                               (COUNT(*) - {MCI_Z_MILLI / 1000.0!r}
                                * SQRT(COUNT(*))) / 2) AS BIGINT))
                               AS lo_rank
                    FROM vals
                )
            ),
            r AS (
                SELECT v, ROW_NUMBER() OVER (ORDER BY v, rid) AS rn
                FROM vals
            )
            SELECT nn.n, nn.lo_rank, nn.hi_rank,
                   ROUND(AVG(CASE WHEN rn = (n + 1) // 2
                                    OR rn = n // 2 + 1
                                  THEN v END), 6) AS median_cents,
                   MIN(CASE WHEN rn = lo_rank THEN v END) AS ci_lo_cents,
                   MIN(CASE WHEN rn = hi_rank THEN v END) AS ci_hi_cents
            FROM r CROSS JOIN nn
            WHERE rn = lo_rank OR rn = hi_rank
               OR rn = (n + 1) // 2 OR rn = n // 2 + 1
            GROUP BY 1, 2, 3
        """,
        "q293_delete_batches": W("manifest_entries") + f"""
            , removable AS (
                SELECT object_key, size FROM (
                    SELECT DISTINCT object_key, size FROM manifest_entries
                    WHERE backup_name = '{DIFF_BACKUP}'
                ) b
                WHERE object_key IN (
                    SELECT object_key FROM manifest_entries
                    GROUP BY 1 HAVING COUNT(DISTINCT backup_name) = 1
                )
            ),
            r AS (
                SELECT object_key, CAST(size AS BIGINT) AS size,
                       ROW_NUMBER() OVER (ORDER BY object_key) AS rn
                FROM removable
            )
            SELECT CAST((rn - 1) // {DELBATCH_SIZE} AS BIGINT) AS batch,
                   CAST(COUNT(*) AS BIGINT) AS n_keys,
                   CAST(SUM(size) AS BIGINT) AS batch_bytes,
                   MIN(object_key) AS first_key
            FROM r GROUP BY 1
        """,
        "q294_dataset_card": _card_oracle(),
        "q296_readability": """
            -- exact-integer milli score: fm = round-half-away(p / q) with
            -- p = 206835*s*w - 1015*w*w - 84600*syl*s, q = s*w — identical
            -- bigint arithmetic to the Spark operator (the former per-doc
            -- ROUND(double*1000) disagreed across engines at a .5 boundary)
            WITH t AS (
                SELECT source,
                       CAST(len(string_split(text, ' ')) AS BIGINT) AS w,
                       CAST(GREATEST(1, len(regexp_extract_all(
                           text, '[.!?]+'))) AS BIGINT) AS s,
                       CAST(GREATEST(1, len(regexp_extract_all(
                           lower(text), '[aeiou]+'))) AS BIGINT) AS syl
                FROM documents
            ),
            pq AS (
                SELECT source,
                       206835 * s * w - 1015 * w * w - 84600 * syl * s AS p,
                       s * w AS q
                FROM t
            ),
            m AS (
                SELECT source,
                       CASE WHEN p >= 0 THEN (2 * p + q) // (2 * q)
                            ELSE -((2 * (-p) + q) // (2 * q)) END AS fm
                FROM pq
            )
            SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
                   ROUND(SUM(fm) * 1.0 / COUNT(*) / 1000.0, 6)
                       AS mean_flesch,
                   CAST(SUM(CASE WHEN fm >= 70000 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_easy,
                   CAST(SUM(CASE WHEN fm < 30000 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_hard
            FROM m GROUP BY 1
        """,
        "q297_pit_features": f"""
            WITH d AS (
                SELECT CAST(FLOOR(epoch(ts)) AS BIGINT) // 86400 AS day,
                       user_id
                FROM events
            ),
            feats AS (
                SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_feat,
                       CAST({PIT_CUTOFF_DAY} - MAX(day) AS BIGINT)
                           AS recency
                FROM d WHERE day < {PIT_CUTOFF_DAY} GROUP BY 1
            ),
            labels AS (
                SELECT DISTINCT user_id FROM d
                WHERE day >= {PIT_CUTOFF_DAY}
                  AND day < {PIT_CUTOFF_DAY + PIT_LABEL_DAYS}
            )
            SELECT LEAST(f.n_feat // 10, 20) AS activity_band,
                   CAST(CASE WHEN l.user_id IS NOT NULL THEN 1 ELSE 0 END
                        AS BIGINT) AS is_active_label,
                   CAST(COUNT(*) AS BIGINT) AS n_users,
                   ROUND(AVG(f.recency), 6) AS mean_recency_days
            FROM feats f LEFT JOIN labels l USING (user_id)
            GROUP BY 1, 2
        """,
        "q298_linear_attribution": """
            WITH conv AS (
                SELECT user_id, ts, event_id FROM events
                WHERE event_type = 'purchase'
            ),
            tch AS (
                SELECT user_id, ts, event_id, event_type FROM events
                WHERE event_type <> 'purchase'
            ),
            pc AS (
                SELECT c.event_id AS cid, t.event_type AS channel,
                       CAST(COUNT(*) AS BIGINT) AS cnt
                FROM conv c JOIN tch t
                  ON c.user_id = t.user_id
                 AND (t.ts < c.ts
                      OR (t.ts = c.ts AND t.event_id < c.event_id))
                GROUP BY 1, 2
            ),
            tot AS (SELECT cid, CAST(SUM(cnt) AS BIGINT) AS total
                    FROM pc GROUP BY 1),
            chan AS (
                SELECT p.channel,
                       CAST(COUNT(*) AS BIGINT) AS n_conversions,
                       ROUND(SUM(p.cnt * 1.0 / t.total), 6) AS credit
                FROM pc p JOIN tot t ON p.cid = t.cid
                GROUP BY 1
            ),
            nn AS (
                SELECT 'none' AS channel,
                       CAST(COUNT(*) AS BIGINT) AS n_conversions,
                       ROUND(COUNT(*) * 1.0, 6) AS credit
                FROM conv WHERE event_id NOT IN (SELECT cid FROM tot)
            )
            SELECT * FROM chan
            UNION ALL
            SELECT * FROM nn WHERE n_conversions > 0
        """,
        "q299_linear_mmd": """
            WITH e AS MATERIALIZED (
                SELECT label AS lab, CAST(embedding AS DOUBLE[]) AS v
                FROM embeddings
            ),
            cells AS MATERIALIZED (
                SELECT lab, t.d - 1 AS d, v[t.d] AS x
                FROM e, unnest(range(1, len(v) + 1)) t(d)
            ),
            means AS MATERIALIZED (
                SELECT lab, d, CAST(COUNT(*) AS BIGINT) AS n,
                       ROUND(SUM(x) / COUNT(*), 6) + 0.0 AS m
                FROM cells GROUP BY 1, 2
            ),
            sq AS (
                SELECT lab, SUM(x * x) AS sxx FROM cells GROUP BY 1
            ),
            norms AS (
                SELECT lab, MAX(n) AS n, SUM(m * m) AS mu2
                FROM means GROUP BY 1
            ),
            disp AS MATERIALIZED (
                SELECT sq.lab, norms.n, sq.sxx / norms.n - norms.mu2 AS vg
                FROM sq JOIN norms USING (lab)
            ),
            mmd AS (
                SELECT a.lab AS la, b.lab AS lb,
                       SUM((a.m - b.m) * (a.m - b.m)) AS mmd2
                FROM means a JOIN means b
                  ON a.d = b.d AND a.lab < b.lab
                GROUP BY 1, 2
            )
            SELECT la AS label_a, lb AS label_b,
                   CAST(da.n AS BIGINT) AS n_a, CAST(db.n AS BIGINT) AS n_b,
                   ROUND(mmd2, 6) AS mmd2,
                   ROUND(SQRT(da.vg / da.n + db.vg / db.n), 6)
                       AS pooled_scale,
                   CASE WHEN da.vg / da.n + db.vg / db.n > 0
                        THEN ROUND(mmd2 / (da.vg / da.n + db.vg / db.n), 6)
                   END AS ratio
            FROM mmd
            JOIN disp da ON la = da.lab
            JOIN disp db ON lb = db.lab
        """,
        "q300_curation_funnel": f"""
            WITH base AS MATERIALIZED (
                SELECT doc_id AS rid,
                       CAST(len(string_split(text, ' ')) AS BIGINT) AS toks,
                       (len(string_split(text, ' ')) >= 30
                        AND len(string_split(text, ' ')) <= 100000
                        AND list_sum(list_transform(string_split(text, ' '),
                                     x -> length(x))) * 1.0
                            / len(string_split(text, ' ')) >= 2.0
                        AND list_sum(list_transform(string_split(text, ' '),
                                     x -> length(x))) * 1.0
                            / len(string_split(text, ' ')) <= 10.0
                        AND len(list_filter(string_split(text, ' '),
                                x -> x IN ('#', '...'))) * 1.0
                            / len(string_split(text, ' ')) <= 0.1
                        AND len(list_filter(string_split(text, ' '),
                                x -> x IN ('a', 'the'))) >= 2) AS gp,
                       md5(array_to_string(list_sort(list_distinct(
                           string_split(text, ' '))), ' ')) AS tk,
                       CAST(concat('0x', substr(md5('{CPF_SEED}:'
                           || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
                           % 1000000 AS sb
                FROM documents
            ),
            passed AS MATERIALIZED (SELECT * FROM base WHERE gp),
            kept AS MATERIALIZED (
                SELECT MIN(rid) AS rid, min_by(toks, rid) AS toks
                FROM passed GROUP BY tk
            ),
            sampled AS (
                SELECT k.rid, k.toks FROM kept k
                WHERE CAST(concat('0x', substr(md5('{CPF_SEED}:'
                          || CAST(k.rid AS VARCHAR)), 1, 8)) AS BIGINT)
                      % 1000000 < {CPF_PPM}
            ),
            st AS (
                SELECT 0 AS stage_idx, 'raw' AS stage,
                       COUNT(*) AS n_docs, COALESCE(SUM(toks), 0) AS n_tokens
                FROM base
                UNION ALL
                SELECT 1, 'gopher', COUNT(*), COALESCE(SUM(toks), 0)
                FROM passed
                UNION ALL
                SELECT 2, 'dedup', COUNT(*), COALESCE(SUM(toks), 0)
                FROM kept
                UNION ALL
                SELECT 3, 'sample', COUNT(*), COALESCE(SUM(toks), 0)
                FROM sampled
            )
            SELECT CAST(stage_idx AS BIGINT) AS stage_idx, stage,
                   CAST(n_docs AS BIGINT) AS n_docs,
                   CAST(n_tokens AS BIGINT) AS n_tokens,
                   CAST(CEIL(n_tokens * 1.0 / {CPF_BUDGET}) AS BIGINT)
                       AS n_shards
            FROM st
        """,
        "q295_backup_growth": W("manifests") + """
            , m AS (
                SELECT CAST(COUNT(*) AS BIGINT) AS n,
                       CAST(SUM(CAST(ts AS HUGEINT)) AS HUGEINT) AS st,
                       CAST(SUM(CAST(size AS HUGEINT)) AS HUGEINT) AS ss,
                       SUM(CAST(ts AS HUGEINT) * CAST(size AS HUGEINT))
                           AS sts,
                       SUM(CAST(ts AS HUGEINT) * CAST(ts AS HUGEINT))
                           AS stt,
                       CAST(MIN(ts) AS BIGINT) AS t0,
                       CAST(MAX(ts) AS BIGINT) AS t1
                FROM manifests
            )
            SELECT n,
                   ROUND(CAST(n * sts - st * ss AS DOUBLE)
                         / CAST(n * stt - st * st AS DOUBLE) * 3600000, 6)
                       AS slope_bytes_per_hour,
                   ROUND((CAST(ss AS DOUBLE)
                          - CAST(n * sts - st * ss AS DOUBLE)
                            / CAST(n * stt - st * st AS DOUBLE)
                            * CAST(st AS DOUBLE)) / n, 6)
                       AS intercept_bytes,
                   CAST(FLOOR(t1 + (t1 - t0) * 1.0 / (n - 1)) AS BIGINT)
                       AS next_ts_ms,
                   ROUND((CAST(ss AS DOUBLE)
                          - CAST(n * sts - st * ss AS DOUBLE)
                            / CAST(n * stt - st * st AS DOUBLE)
                            * CAST(st AS DOUBLE)) / n
                         + CAST(n * sts - st * ss AS DOUBLE)
                           / CAST(n * stt - st * st AS DOUBLE)
                           * (t1 + (t1 - t0) * 1.0 / (n - 1)), 6)
                       AS forecast_bytes
            FROM m
        """,
        "q290_histogram_pctile": f"""
            WITH daily AS MATERIALIZED (
                SELECT CAST(FLOOR(epoch(ts)) AS BIGINT) // 86400 AS day,
                       CAST(ROUND(value * 100) AS BIGINT) // {HPCT_BUCKET}
                           AS b,
                       CAST(COUNT(*) AS BIGINT) AS n
                FROM events GROUP BY 1, 2
            ),
            days AS (SELECT DISTINCT day FROM daily),
            win AS (
                SELECT c.wd, c.b, CAST(SUM(n) AS BIGINT) AS n
                FROM (SELECT daily.day + g.i AS wd, b, n
                      FROM daily, unnest(range(0, {HWND_DAYS})) g(i)) c
                JOIN days t ON c.wd = t.day
                GROUP BY 1, 2
            ),
            wcum AS (
                SELECT wd, b, n,
                       SUM(n) OVER (PARTITION BY wd ORDER BY b
                                    ROWS BETWEEN UNBOUNDED PRECEDING
                                             AND CURRENT ROW) AS cum,
                       SUM(n) OVER (PARTITION BY wd) AS total
                FROM win
            ),
            qs AS (SELECT unnest([{', '.join(str(q) for q in HPCT_QS)}])
                       AS q_milli)
            SELECT wd AS day, CAST(q_milli AS BIGINT) AS q_milli,
                   CAST(MAX(total) AS BIGINT) AS n_rows,
                   CAST(MIN(b) * {HPCT_BUCKET} AS BIGINT) AS pctile_cents
            FROM wcum CROSS JOIN qs
            WHERE cum * 1000 >= q_milli * total
            GROUP BY 1, 2
        """,
        "q301_cosine_pairs_lsh": _cosine_lsh_oracle(
            8, 3, 64, COSINE_TAU, 200  # engine's max_bucket; see _cosine_lsh_oracle
        ),
        # q302: candidates restricted to rare-shingle (df <= 5) co-occurrence,
        # jaccard still counted over ALL shared shingles — the exact semantics
        # of dedup.ngram_jaccard_pairs(max_df=5)'s split rare/hot verify.
        "q302_ngram_jaccard_capped": f"""
            WITH docs AS (
                SELECT doc_id, string_split(text, ' ') AS words FROM documents
            ),
            sh AS (
                SELECT DISTINCT doc_id,
                       words[i] || ' ' || words[i+1] || ' ' || words[i+2] AS shingle
                FROM docs, unnest(range(1, greatest(len(words) - 1, 1))) t(i)
            ),
            cnt AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY 1),
            hot AS (SELECT shingle FROM sh GROUP BY 1 HAVING COUNT(*) > 5),
            rare AS (
                SELECT s.doc_id, s.shingle
                FROM sh s LEFT JOIN hot h USING (shingle)
                WHERE h.shingle IS NULL
            ),
            cand AS (
                SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
                FROM rare a JOIN rare b
                  ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            ),
            shared AS (
                SELECT c.id_a, c.id_b, COUNT(*) AS shared
                FROM cand c
                JOIN sh a ON a.doc_id = c.id_a
                JOIN sh b ON b.doc_id = c.id_b AND a.shingle = b.shingle
                GROUP BY 1, 2
            )
            SELECT id_a, id_b,
                   ROUND(shared * 1.0 / (ca.n_sh + cb.n_sh - shared), 6) AS jaccard
            FROM shared
            JOIN cnt ca ON id_a = ca.doc_id
            JOIN cnt cb ON id_b = cb.doc_id
            WHERE ROUND(shared * 1.0 / (ca.n_sh + cb.n_sh - shared), 6)
                  >= {JACCARD_TAU}
        """,
        # q303: plain exact weighted jaccard — the mass-band join on the
        # Spark side is a pure pruning device (J_w ≤ min(mass)/max(mass)
        # makes the band membership implied by the threshold), so the
        # oracle needs no band mirror: the authoritative filter is the
        # identical rounded J_w ≥ τ on both engines.
        "q303_weighted_jaccard": f"""
            WITH docs AS (
                SELECT doc_id, string_split(text, ' ') AS words FROM documents
            ),
            tf AS (
                SELECT doc_id, w AS term, COUNT(*) AS tf
                FROM docs, unnest(words) t(w) GROUP BY 1, 2
            ),
            mass AS (SELECT doc_id, len(words) AS m FROM docs),
            sh AS (
                SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                       SUM(least(a.tf, b.tf)) AS s
                FROM tf a JOIN tf b
                  ON a.term = b.term AND a.doc_id < b.doc_id
                GROUP BY 1, 2
            )
            SELECT id_a, id_b,
                   ROUND(s * 1.0 / (ma.m + mb.m - s), 6) AS wjaccard
            FROM sh
            JOIN mass ma ON ma.doc_id = id_a
            JOIN mass mb ON mb.doc_id = id_b
            WHERE ROUND(s * 1.0 / (ma.m + mb.m - s), 6) >= {WJ_TAU}
        """,
        "q304_weighted_minhash_lsh": _wlsh_oracle(),
        "q305_densest_subgraph": f"""
            WITH sides AS (
                SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
            ),
            eu AS MATERIALIZED (
                SELECT a.pk AS src, b.pk AS dst
                FROM sides a JOIN sides b ON a.ok = b.ok AND a.pk < b.pk
                GROUP BY 1, 2 HAVING COUNT(*) >= 2
            ),
            {graph.densest_sql("eu", DSG_EPS, DSG_ROUNDS)}
        """,
    }
