"""Text-analysis operators for large-scale training-data pipelines.

Column-level text machinery (tokenization, stats, quality, language-ID,
fingerprinting) built entirely from JVM-side ``pyspark.sql.functions`` —
no Python UDFs, so the hot path stays inside whole-stage codegen and scales
linearly with partitions (no shuffle except final aggregations).

These generalize the reference's string/scan surface (SURVEY.md §2.8) to
document corpora: the reference fingerprints files by content hash
(/root/reference/core/src/main/java/com/instaclustr/esop/impl/hash/HashSpec.java);
here documents are fingerprinted by exact and normalized content keys.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from esop_spark.operators.iterate import share_relation

DEFAULT_STOPWORDS = ("a", "the")

# Tiny marker-token profiles for the n-gram/stopword language-ID heuristic.
LANG_PROFILES: dict[str, tuple[str, ...]] = {
    "de": ("und", "der", "die", "das", "nicht"),
    "en": ("the", "a", "of", "and", "is"),
    "es": ("el", "los", "y", "que", "una"),
    "fr": ("le", "la", "et", "les", "une"),
}


def tokens(text_col: Column | str) -> Column:
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.split(c, " ")


def token_match_count(text_col: Column | str, words: tuple[str, ...]) -> Column:
    """Occurrences of any of `words` as whole tokens (JVM higher-order fn)."""
    toks = tokens(text_col)
    lit_words = F.array(*[F.lit(w) for w in words])
    return F.size(F.filter(toks, lambda w: F.array_contains(lit_words, w)))


def tokenset_key(text_col: Column | str) -> Column:
    """Order-insensitive content key: md5 of the sorted distinct token set.
    Catches shuffled/reordered duplicates that exact hashing misses."""
    return F.md5(F.array_join(F.array_sort(F.array_distinct(tokens(text_col))), " "))


def token_stats(documents: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document token statistics (token counting operator)."""
    toks = tokens(text_col)
    return documents.select(
        "doc_id",
        F.size(toks).cast("bigint").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("bigint").alias("n_distinct"),
        F.length(text_col).cast("bigint").alias("n_chars_text"),
    )


def quality_score_col(
    text_col: str | Column = "text",
    stopwords: tuple[str, ...] = DEFAULT_STOPWORDS,
) -> Column:
    """The 0–100 quality score as a plain Column expression — composable
    into any projection (release_gate, curate_stream) without a join.

    INTEGER-EXACT (round 12, the q296 template): the score is
    round-half-up of the exact rational p/q with p = 50·(n − stop + nd),
    q = n — i.e. (2p + q) DIV (2q) in pure bigints — instead of rounding
    the double 0.5·(1 − stop/n) + 0.5·nd/n. The r11 sf0.001 sweep showed
    this formula's double path lands EXACTLY on a .5 milli boundary for
    139 sf0.1 docs (7 of which the double path rounded differently from
    the true rational), the same cross-engine divergence class q296 hit.
    All oracle replicas carry the matching `(100*(n-stop+nd)+n) //
    (2*n)` form. The DIV is computed as (a − pmod(a, b)) / b: the
    numerator is exactly divisible, both operands are far below 2^53, so
    the double division is exact; everything stays one scan-fused
    projection (no plan change)."""
    toks = tokens(text_col)
    n = F.size(toks).cast("bigint")
    stop = token_match_count(text_col, stopwords).cast("bigint")
    nd = F.size(F.array_distinct(toks)).cast("bigint")
    a = F.lit(100).cast("bigint") * (n - stop + nd) + n
    b = F.lit(2).cast("bigint") * n
    return F.when(n > 0, ((a - F.pmod(a, b)) / b).cast("bigint"))


def quality_score(
    documents: DataFrame,
    text_col: str = "text",
    stopwords: tuple[str, ...] = DEFAULT_STOPWORDS,
) -> DataFrame:
    """Heuristic quality scoring: stopword ratio + type/token ratio blended
    into a 0–100 score. All-integer/deterministic-double arithmetic so the
    DuckDB oracle reproduces it bit-for-bit."""
    toks = tokens(text_col)
    n = F.size(toks)
    stop = token_match_count(text_col, stopwords)
    ttr = F.size(F.array_distinct(toks)).cast("double") / n
    stop_ratio = stop.cast("double") / n
    return documents.select(
        "doc_id",
        n.cast("bigint").alias("n_tokens"),
        F.round(stop_ratio, 6).alias("stopword_ratio"),
        F.round(ttr, 6).alias("type_token_ratio"),
        quality_score_col(text_col, stopwords).alias("quality_score"),
    )


def lang_pred_cols(
    text_col: str | Column = "text",
    profiles: dict[str, tuple[str, ...]] | None = None,
) -> tuple[Column, Column]:
    """(pred_lang, best_score) as plain Column expressions: marker-token
    score per language profile; argmax wins (language-name ascending
    tiebreak); all-zero scores → 'unknown'. Composable without a join."""
    profiles = profiles or LANG_PROFILES
    langs = sorted(profiles)
    scores = {lang: token_match_count(text_col, profiles[lang]) for lang in langs}
    best = F.greatest(*scores.values()) if len(scores) > 1 else next(iter(scores.values()))
    pred = F.lit("unknown")
    # build when-chain in reverse so earlier languages win ties
    for lang in reversed(langs):
        pred = F.when((scores[lang] == best) & (best > 0), F.lit(lang)).otherwise(pred)
    return pred, best


def lang_id(
    documents: DataFrame,
    text_col: str = "text",
    profiles: dict[str, tuple[str, ...]] | None = None,
) -> DataFrame:
    """Marker-token language-ID heuristic (DataFrame form of
    :func:`lang_pred_cols`)."""
    pred, best = lang_pred_cols(text_col, profiles)
    return documents.select(
        "doc_id",
        pred.alias("pred_lang"),
        best.cast("bigint").alias("best_score"),
    )


def chunk_documents(
    documents: DataFrame,
    chunk_tokens: int = 50,
    stride: int = 40,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Token-window chunking with overlap — the standard pre-tokenization
    split for long documents in training pipelines.

    Chunks start every ``stride`` tokens and span ``chunk_tokens`` (the final
    chunk may be shorter; empty tails are not emitted). Pure JVM sequence/
    slice/explode — one narrow pass, no shuffle.
    """
    words = documents.select(
        F.col(id_col), F.split(F.col(text_col), " ").alias("words")
    )
    starts = F.expr(
        f"sequence(1, greatest(size(words) - 1, 1), {stride})"
    )
    chunks = words.select(
        F.col(id_col),
        F.posexplode(
            F.transform(
                starts, lambda s: F.array_join(F.slice(F.col("words"), s, chunk_tokens), " ")
            )
        ).alias("chunk_idx", "chunk_text"),
    ).filter(F.col("chunk_text") != "")
    return chunks.select(
        id_col,
        F.col("chunk_idx").cast("bigint").alias("chunk_idx"),
        F.size(F.split(F.col("chunk_text"), " ")).cast("bigint").alias("chunk_tokens"),
        F.md5(F.col("chunk_text")).alias("chunk_hash"),
    )


def curate(
    documents: DataFrame,
    min_quality: int = 55,
    lang: str = "en",
    text_col: str = "text",
) -> DataFrame:
    """Composed curation pipeline: quality gate → language gate → exact
    near-order dedup (token-set key, min doc_id canonical wins).

    The canonical training-data filtering chain, composed entirely from the
    engine's own operators — one aggregation shuffle total (the dedup):
    the quality/lang/content-key signals are all columns of one scan
    projection (no self-joins on doc_id), so everything before the dedup
    agg is fused into the scan stage.
    """
    pred_lang, _best = lang_pred_cols(text_col)
    survivors = documents.select(
        "doc_id",
        tokenset_key(text_col).alias("dedup_key"),
        quality_score_col(text_col).alias("quality_score"),
        pred_lang.alias("pred_lang"),
    ).filter(
        (F.col("quality_score") >= min_quality) & (F.col("pred_lang") == lang)
    )
    canonical = survivors.groupBy("dedup_key").agg(
        F.min("doc_id").cast("bigint").alias("doc_id"),
        F.count(F.lit(1)).cast("bigint").alias("n_dups"),
        F.max("quality_score").cast("bigint").alias("quality_score"),
    )
    return canonical.select("doc_id", "dedup_key", "n_dups", "quality_score")


def tfidf_top_terms(
    documents: DataFrame,
    group_col: str = "lang",
    k: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Top-k characteristic terms per group by summed TF-IDF.

    tf(g, t) = total occurrences of t in group g; df(t) = documents
    containing t; score = tf · ln(N/df). Two hash aggregations (df over the
    per-doc-distinct term relation, tf over the full term relation — both
    uniform term keys, map-side partial) + one broadcast of the 1-row corpus
    count. No driver actions — N comes from a cross-joined 1-row aggregate,
    so the whole operator is one lazy plan.

    The top-k is SALTED two-phase (the q16 construction): a bare
    per-group window would funnel each group's entire VOCABULARY through
    one reducer — |groups| is small (languages) and a 100 TB English
    vocabulary is not. Phase 1 ranks within (group, hash(term) % 64) and
    keeps k; phase 2 re-ranks the ≤|groups|·64·k survivors. Identical
    result — a group's true top-k is within its bucket's top-k.

    Output: (group, term, tf, df, tfidf, rank), rank 1..k per group with
    deterministic (score DESC, term ASC) ordering; tfidf rounded to 6dp
    to be engine-comparable.
    """
    tok = documents.select(
        F.col(id_col), F.col(group_col), F.explode(tokens(text_col)).alias("term")
    )
    df_t = (
        tok.select(id_col, "term")
        .distinct()
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    tf = tok.groupBy(group_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    n_docs = documents.agg(F.count(F.lit(1)).alias("n_docs"))
    from pyspark.sql.window import Window

    w1 = Window.partitionBy(group_col, "_salt").orderBy(
        F.col("tfidf").desc(), F.col("term").asc()
    )
    w2 = Window.partitionBy(group_col).orderBy(
        F.col("tfidf").desc(), F.col("term").asc()
    )
    return (
        tf.join(df_t, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "tfidf",
            F.round(F.col("tf") * F.log(F.col("n_docs") / F.col("df")), 6),
        )
        .withColumn("_salt", F.pmod(F.hash("term"), F.lit(64)))
        .withColumn("_rn1", F.row_number().over(w1))
        .filter(F.col("_rn1") <= k)
        .withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .select(
            group_col,
            "term",
            F.col("tf").cast("bigint").alias("tf"),
            F.col("df").cast("bigint").alias("df"),
            "tfidf",
            F.col("rank").cast("bigint").alias("rank"),
        )
    )


# PII patterns shared verbatim with the DuckDB oracle: both Java regex and
# RE2 interpret these identically (char classes, \d, \b, bounded repeats).
PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IPV4_RE = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
PII_DIGIT_RUN_RE = r"\d{7,}"


def pii_scan(documents: DataFrame, text_col: str = "text") -> DataFrame:
    """PII detection + redaction: per-document match counts for emails,
    IPv4 addresses, and long digit runs (ids/phones), plus the md5 of the
    redacted text (emails → <EMAIL>, then IPs → <IP>, then digit runs →
    <NUM> — order matters and is fixed).

    Pure JVM regexp machinery (regexp_extract_all / regexp_replace) — a
    narrow zero-shuffle projection that scales linearly with partitions.
    Training pipelines run exactly this shape corpus-wide before release.
    """
    c = F.col(text_col)
    n_emails = F.size(F.regexp_extract_all(c, F.lit(PII_EMAIL_RE), F.lit(0)))
    n_ipv4 = F.size(F.regexp_extract_all(c, F.lit(PII_IPV4_RE), F.lit(0)))
    n_digits = F.size(F.regexp_extract_all(c, F.lit(PII_DIGIT_RUN_RE), F.lit(0)))
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(c, PII_EMAIL_RE, "<EMAIL>"),
            PII_IPV4_RE,
            "<IP>",
        ),
        PII_DIGIT_RUN_RE,
        "<NUM>",
    )
    return documents.select(
        "doc_id",
        n_emails.cast("bigint").alias("n_emails"),
        n_ipv4.cast("bigint").alias("n_ipv4"),
        n_digits.cast("bigint").alias("n_digit_runs"),
        (n_emails + n_ipv4 + n_digits).cast("bigint").alias("n_pii"),
        F.md5(redacted).alias("redacted_hash"),
    )


def boilerplate_stats(
    documents: DataFrame,
    chunk_tokens: int = 10,
    min_df: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Boilerplate detection (CCNet-style paragraph dedup signal): split each
    document into non-overlapping ``chunk_tokens``-token segments, count how
    many distinct documents each segment appears in (its df), and report the
    per-document fraction of segments that are boilerplate (df ≥ min_df).

    Plan: one narrow explode projection → one hash agg on the segment key
    (uniform md5 domain — no skew) → broadcast-free equi-join back on the
    same key → per-doc agg. Two shuffles total, both on uniform keys; at
    100 TB the segment-df relation is the only wide intermediate and it
    shrinks with dedup rate.
    """
    words = documents.select(
        F.col(id_col), F.split(F.col(text_col), " ").alias("words")
    )
    starts = F.expr(f"sequence(1, size(words), {chunk_tokens})")
    segs = words.select(
        F.col(id_col),
        F.explode(
            F.transform(
                starts,
                lambda s: F.array_join(F.slice(F.col("words"), s, chunk_tokens), " "),
            )
        ).alias("seg"),
    ).filter(F.col("seg") != "")
    seg_df = (
        segs.select(id_col, "seg")
        .distinct()
        .groupBy("seg")
        .agg(F.count(F.lit(1)).alias("seg_docs"))
    )
    return (
        segs.join(seg_df, "seg")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_segments"),
            F.sum((F.col("seg_docs") >= min_df).cast("bigint"))
            .cast("bigint")
            .alias("n_boilerplate"),
        )
        .select(
            id_col,
            "n_segments",
            "n_boilerplate",
            F.round(F.col("n_boilerplate") / F.col("n_segments"), 6).alias(
                "boilerplate_frac"
            ),
        )
    )


def repeated_ngrams(
    documents: DataFrame,
    n: int = 8,
    k: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Substring-level duplication audit: the top-k ``n``-gram spans that
    occur in ≥2 distinct documents, with document frequency and total
    occurrence counts. The corpus-wide signal behind span-level dedup
    (Lee et al., "Deduplicating Training Data Makes Language Models
    Better" — suffix-array substring dedup; this is the bounded-n
    distributed approximation).

    One explode → per-(span, doc) partial agg → per-span roll-up → global
    top-k via TakeOrderedAndProject. Two plain hash aggs instead of a
    countDistinct (which would Expand 2× every exploded row before the
    map-side combine); the first agg's key includes the doc id so same-doc
    repeats collapse map-side. The span key domain is uniform — no skew;
    the top-k never materializes the full sorted relation.
    """
    words = documents.select(
        F.col(id_col), F.split(F.col(text_col), " ").alias("words")
    )
    # only starts that yield a full n-gram: docs shorter than n emit nothing
    starts = F.expr(
        f"CASE WHEN size(words) >= {n} THEN sequence(1, size(words) - {n - 1}) "
        f"ELSE array() END"
    )
    spans = words.select(
        F.col(id_col),
        F.explode(
            F.transform(
                starts, lambda s: F.array_join(F.slice(F.col("words"), s, n), " ")
            )
        ).alias("span"),
    )
    per_doc = spans.groupBy("span", id_col).agg(
        F.count(F.lit(1)).alias("occ_in_doc")
    )
    return (
        per_doc.groupBy("span")
        .agg(
            F.sum("occ_in_doc").cast("bigint").alias("n_occ"),
            F.count(F.lit(1)).cast("bigint").alias("span_docs"),
        )
        .filter(F.col("span_docs") >= 2)
        .orderBy(F.col("span_docs").desc(), F.col("n_occ").desc(), F.col("span").asc())
        .limit(k)
        .select(F.md5("span").alias("span_hash"), "span_docs", "n_occ")
    )


def bm25_topk(
    documents: DataFrame,
    query_terms: tuple[str, ...],
    k: int = 15,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """BM25 keyword retrieval: top-k documents for a bag-of-words query.

    idf(t) = ln(1 + (N - df + 0.5)/(df + 0.5)); score(d) = Σ_t idf(t) ·
    tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl)). The per-term relation is
    filtered to the query terms BEFORE any shuffle (predicate on the
    exploded term — only matching tokens survive the scan stage), so the
    aggregation input is |matches|, not |tokens|. Corpus stats (N, avgdl)
    are a 1-row broadcast. Plan: narrow explode+filter → tf hash agg →
    df hash agg (tiny: ≤|query| keys) → broadcast joins → score agg →
    TakeOrderedAndProject.
    """
    lit_terms = F.array(*[F.lit(t) for t in query_terms])
    toks = documents.select(
        F.col(id_col),
        F.size(F.split(F.col(text_col), " ")).cast("bigint").alias("dl"),
        F.explode(F.split(F.col(text_col), " ")).alias("term"),
    ).filter(F.array_contains(lit_terms, F.col("term")))
    tf = toks.groupBy(id_col, "term").agg(
        F.count(F.lit(1)).cast("double").alias("tf"), F.first("dl").alias("dl")
    )
    df_t = tf.groupBy("term").agg(F.count(F.lit(1)).cast("double").alias("df"))
    stats = documents.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        F.avg(F.size(F.split(F.col(text_col), " "))).alias("avgdl"),
    )
    scored = (
        tf.join(F.broadcast(df_t), "term")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "idf",
            F.log(
                1.0
                + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
            ),
        )
        .withColumn(
            "contrib",
            F.col("idf")
            * F.col("tf")
            * (k1 + 1.0)
            / (
                F.col("tf")
                + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl"))
            ),
        )
    )
    return (
        scored.groupBy(id_col)
        .agg(F.round(F.sum("contrib"), 6).alias("bm25"))
        .orderBy(F.col("bm25").desc(), F.col(id_col).asc())
        .limit(k)
        .select(F.col(id_col).cast("bigint").alias(id_col), "bm25")
    )


def vocab_topk(
    documents: DataFrame, k: int = 1000, text_col: str = "text"
) -> DataFrame:
    """Corpus vocabulary: the k most frequent tokens (count DESC, token ASC
    tiebreak). One explode → uniform-key hash agg → TakeOrderedAndProject."""
    return (
        documents.select(F.explode(tokens(text_col)).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .orderBy(F.col("n").desc(), F.col("term").asc())
        .limit(k)
    )


def oov_rate(
    documents: DataFrame,
    vocab_k: int = 30,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document out-of-vocabulary rate against the corpus top-k
    vocabulary — the tokenizer-coverage check run before committing a vocab.

    Two-pass: vocab build (small result — broadcast), then a narrow
    left-semi-style membership count per document. The vocab side is k rows
    regardless of corpus size, so the second pass is a broadcast join — no
    shuffle of the corpus at any scale.
    """
    vocab = vocab_topk(documents, vocab_k, text_col).select("term")
    tok = documents.select(
        F.col(id_col),
        F.size(tokens(text_col)).cast("bigint").alias("n_tokens"),
        F.explode(tokens(text_col)).alias("term"),
    )
    in_vocab = (
        tok.join(F.broadcast(vocab), "term", "left_semi")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_in_vocab"))
    )
    base = documents.select(
        F.col(id_col), F.size(tokens(text_col)).cast("bigint").alias("n_tokens")
    )
    return (
        base.join(in_vocab, id_col, "left")
        .select(
            id_col,
            "n_tokens",
            F.coalesce(F.col("n_in_vocab"), F.lit(0)).cast("bigint").alias("n_in_vocab"),
            F.round(
                (F.col("n_tokens") - F.coalesce(F.col("n_in_vocab"), F.lit(0)))
                / F.col("n_tokens"),
                6,
            ).alias("oov_rate"),
        )
    )


def _head_tail_count_join(
    rel: DataFrame, counts: DataFrame, keys: list[str], head_k: int | None
) -> DataFrame:
    """Join ``rel`` to its count relation on ``keys``, Zipf-aware.

    The naive join shuffles the full exploded relation on the term key —
    ∝ corpus tokens, the LM scorers' only corpus-scale shuffle. But token
    MASS is Zipf-distributed: the top-K count rows cover almost all
    occurrences. With ``head_k`` set, the top-K rows broadcast (hash-join,
    no shuffle of ``rel``) and ONLY the tokens that miss the head — the
    rare-term tail — take the shuffle join. Exact: every row still joins
    its true count; head membership only routes the plan. When the whole
    vocabulary fits in the head (any corpus whose vocab ≤ head_k), the
    shuffle disappears entirely."""
    if head_k is None:
        return rel.join(counts, keys)
    value_cols = [c for c in counts.columns if c not in keys]
    probe = value_cols[0]
    head = counts.orderBy(F.col(probe).desc(), *keys).limit(head_k)
    tagged = rel.join(F.broadcast(head), keys, "left")
    hit = tagged.filter(F.col(probe).isNotNull())
    miss = tagged.filter(F.col(probe).isNull()).drop(*value_cols)
    tail = counts.join(F.broadcast(head.select(*keys)), keys, "left_anti")
    return hit.unionByName(miss.join(tail, keys))


# Zipf head size for the LM scorers when the head/tail plan is opted into:
# 64k count rows broadcast ≈ a few MB, covering ~all token mass on any
# natural-language corpus. Default is None (single shuffle join): the
# head/tail union reads the exploded corpus TWICE, and a columnar re-scan
# only beats the shuffle when corpus ≫ memory — at bench scale the shuffle
# wins (measured: q61 sf1 1.68 s naive vs 2.83 s head/tail), on a 100 TB
# cluster the scan is cheap and the avoided corpus-wide shuffle is the
# bottleneck, so flip head_k=LM_HEAD_K there.
LM_HEAD_K = 65_536


def unigram_logprob(
    documents: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    head_k: int | None = None,
) -> DataFrame:
    """Per-document mean negative log-probability under the corpus unigram
    LM — the cheap stand-in for LM-perplexity quality filtering (CCNet-style
    pipelines gate on exactly this shape of score).

    nll(d) = −(1/|d|) Σ_t ln(count(t)/total). The term-frequency relation is
    one uniform-key agg; scoring routes through
    :func:`_head_tail_count_join` — the Zipf head of the frequency table
    broadcasts and only rare-term tokens shuffle, so the corpus-token
    shuffle the naive join needs disappears for head tokens (entirely, when
    vocab ≤ head_k). ``head_k=None`` forces the plain shuffle join.
    """
    tok = documents.select(F.col(id_col), F.explode(tokens(text_col)).alias("term"))
    tf = tok.groupBy("term").agg(F.count(F.lit(1)).alias("n"))
    total = tf.agg(F.sum("n").alias("total"))
    return (
        _head_tail_count_join(tok, tf, ["term"], head_k)
        .crossJoin(F.broadcast(total))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            F.round(
                -F.sum(F.log(F.col("n") / F.col("total"))) / F.count(F.lit(1)), 6
            ).alias("mean_nll"),
        )
    )


def release_gate(
    documents: DataFrame,
    min_quality: int = 66,
    lang: str = "en",
    max_boiler_frac: float = 0.1,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
) -> DataFrame:
    """Corpus release report: the full curation waterfall composed from the
    engine's own operators — quality gate → language gate → boilerplate
    gate → exact near-order dedup (keep min id per token-set key, judged
    among gate survivors only) — with per-source drop attribution.

    Each document is attributed to the FIRST gate it fails (the standard
    release-report convention: counts sum to n_docs). Output one row per
    source: n_docs, n_quality_fail, n_lang_fail, n_boiler_fail,
    n_dup_drop, n_released.

    Plan: the quality/lang/content-key signals are columns of ONE scan
    projection (no self-joins — computing them as separate DataFrames and
    joining on doc_id cost two extra full-corpus shuffles, measured ~25%
    of q62 at sf0.1); boilerplate genuinely aggregates across documents,
    so its join-back is the single corpus join; the dedup winner is a
    window over the content key restricted to survivors; the report is one
    final tiny agg on source. Nothing here is driver-side.
    """
    boiler = boilerplate_stats(documents, text_col=text_col, id_col=id_col).select(
        id_col, "boilerplate_frac"
    )
    pred_lang, _best = lang_pred_cols(text_col)
    keyed = documents.select(
        F.col(id_col),
        F.col(source_col),
        tokenset_key(text_col).alias("dk"),
        quality_score_col(text_col).alias("quality_score"),
        pred_lang.alias("pred_lang"),
    )
    # persisted: the keeper census and the flag join both consume it, and
    # its quality/lang/tokenset projections are the expensive part
    joined = share_relation(keyed.join(boiler, id_col))
    survives_pre = (
        (F.col("quality_score") >= min_quality)
        & (F.col("pred_lang") == lang)
        & (F.col("boilerplate_frac") <= max_boiler_frac)
    )
    # dedup winner: min id among pre-gate survivors of the same content
    # key. groupBy + broadcast-or-shuffle join back, NOT a partitionBy(dk)
    # window — min() is map-side combinable as an aggregate, while the
    # window form buffers an entire duplicate cluster in one task (the
    # boilerplate-duplicated-millions-of-times hot-key failure mode).
    keepers = joined.groupBy("dk").agg(
        F.min(F.when(survives_pre, F.col(id_col))).alias("keeper")
    )
    flagged = joined.join(keepers, "dk").withColumn(
        "gate",
        F.when(F.col("quality_score") < min_quality, F.lit("quality_fail"))
        .when(F.col("pred_lang") != lang, F.lit("lang_fail"))
        .when(F.col("boilerplate_frac") > max_boiler_frac, F.lit("boiler_fail"))
        .when(F.col(id_col) != F.col("keeper"), F.lit("dup_drop"))
        .otherwise(F.lit("released")),
    )
    return (
        flagged.groupBy(source_col)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum((F.col("gate") == "quality_fail").cast("bigint")).cast("bigint").alias("n_quality_fail"),
            F.sum((F.col("gate") == "lang_fail").cast("bigint")).cast("bigint").alias("n_lang_fail"),
            F.sum((F.col("gate") == "boiler_fail").cast("bigint")).cast("bigint").alias("n_boiler_fail"),
            F.sum((F.col("gate") == "dup_drop").cast("bigint")).cast("bigint").alias("n_dup_drop"),
            F.sum((F.col("gate") == "released").cast("bigint")).cast("bigint").alias("n_released"),
        )
    )


def fingerprint(documents: DataFrame, text_col: str = "text") -> DataFrame:
    """Document fingerprinting: exact content hash, normalized token-set key,
    and a 256-way shard prefix (content-addressed partitioning at scale)."""
    return documents.select(
        "doc_id",
        F.md5(F.col(text_col)).alias("fingerprint"),
        tokenset_key(text_col).alias("tokenset_key"),
        F.substring(F.md5(F.col(text_col)), 1, 2).alias("shard"),
    )


def bigram_logprob(
    documents: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    add_k: float = 0.5,
    head_k: int | None = None,
) -> DataFrame:
    """Per-document mean negative log-probability under an add-k-smoothed
    corpus bigram LM — one modeling step past :func:`unigram_logprob` toward
    the KenLM-style perplexity filters used by CCNet/RedPajama pipelines.

    p(w2|w1) = (c(w1,w2) + k) / (c(w1,·) + k·V), V = |distinct w2|.
    nll(d) = −(1/|pairs(d)|) Σ ln p(w2|w1); docs with < 2 tokens drop out
    (no bigrams to score).

    Plan shape: the pair relation is materialized ONCE as a narrow
    posexplode projection (the word array is materialized first — Spark does
    no CSE inside higher-order-function lambdas, re-splitting per element is
    O(n²)); head counts and pair counts are two uniform-key aggs; both
    scoring joins route through :func:`_head_tail_count_join` (Zipf head
    broadcast, rare-pair tail shuffled), so the corpus-pair shuffle only
    carries tail pairs. V and nothing else crosses the driver.
    """
    words = documents.select(
        F.col(id_col), F.split(F.col(text_col), " ").alias("words")
    )
    pairs = words.select(
        F.col(id_col),
        F.posexplode(
            F.slice(F.col("words"), 1, F.greatest(F.size("words") - 1, F.lit(0)))
        ).alias("pos", "w1"),
        F.col("words"),
    ).select(
        F.col(id_col),
        F.col("w1"),
        F.element_at(F.col("words"), F.col("pos") + 2).alias("w2"),
    )
    pair_counts = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    head_counts = pairs.groupBy("w1").agg(F.count(F.lit(1)).alias("c1"))
    vocab = pairs.agg(F.countDistinct("w2").alias("v"))
    scored = _head_tail_count_join(pairs, pair_counts, ["w1", "w2"], head_k)
    scored = _head_tail_count_join(scored, head_counts, ["w1"], head_k)
    return (
        scored
        .crossJoin(F.broadcast(vocab))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
            F.round(
                -F.sum(
                    F.log(
                        (F.col("c12") + F.lit(add_k))
                        / (F.col("c1") + F.lit(add_k) * F.col("v"))
                    )
                )
                / F.count(F.lit(1)),
                6,
            ).alias("mean_nll"),
        )
    )


# Gopher-style heuristic quality rules (Rae et al. 2021, table A1 shape):
# document-level structural filters that need no model, just token stats.
GOPHER_MIN_WORDS = 30
GOPHER_MAX_WORDS = 100_000
GOPHER_MEAN_WORD_LEN = (2.0, 10.0)
GOPHER_MAX_SYMBOL_FRAC = 0.1
GOPHER_MIN_STOPWORD_HITS = 2
GOPHER_SYMBOLS = ("#", "...")


def gopher_rules(
    documents: DataFrame,
    text_col: str = "text",
    source_col: str = "source",
) -> DataFrame:
    """Gopher-style heuristic filter battery, reported per source: how many
    documents fail each structural rule, and how many pass all of them.

    Every rule is a JVM-side expression over ONE materialized word array —
    the whole battery is a narrow projection followed by a single
    low-cardinality aggregate (map-side partial). At 100 TB this is a pure
    scan-shaped job: no joins, no windows, shuffle is |sources| rows.
    """
    sym_lits = F.array(*[F.lit(s) for s in GOPHER_SYMBOLS])
    stop_lits = F.array(*[F.lit(w) for w in DEFAULT_STOPWORDS])
    lo, hi = GOPHER_MEAN_WORD_LEN
    w = documents.select(
        F.col(source_col).alias("source"),
        F.split(F.col(text_col), " ").alias("words"),
    ).select(
        "source",
        F.size("words").alias("n_words"),
        (
            F.aggregate(
                F.col("words"), F.lit(0).cast("bigint"),
                lambda acc, x: acc + F.length(x),
            )
            / F.size("words")
        ).alias("mean_word_len"),
        (
            F.size(F.filter(F.col("words"), lambda x: F.array_contains(sym_lits, x)))
            / F.size("words")
        ).alias("symbol_frac"),
        F.size(
            F.filter(F.col("words"), lambda x: F.array_contains(stop_lits, x))
        ).alias("stopword_hits"),
    )
    flags = w.select(
        "source",
        (F.col("n_words") < GOPHER_MIN_WORDS).cast("bigint").alias("f_too_short"),
        (F.col("n_words") > GOPHER_MAX_WORDS).cast("bigint").alias("f_too_long"),
        (
            (F.col("mean_word_len") < lo) | (F.col("mean_word_len") > hi)
        ).cast("bigint").alias("f_word_len"),
        (F.col("symbol_frac") > GOPHER_MAX_SYMBOL_FRAC).cast("bigint").alias("f_symbol"),
        (F.col("stopword_hits") < GOPHER_MIN_STOPWORD_HITS).cast("bigint").alias("f_stopword"),
    )
    pass_all = (
        (F.col("f_too_short") + F.col("f_too_long") + F.col("f_word_len")
         + F.col("f_symbol") + F.col("f_stopword")) == 0
    ).cast("bigint")
    return flags.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("f_too_short").cast("bigint").alias("n_too_short"),
        F.sum("f_too_long").cast("bigint").alias("n_too_long"),
        F.sum("f_word_len").cast("bigint").alias("n_word_len"),
        F.sum("f_symbol").cast("bigint").alias("n_symbol"),
        F.sum("f_stopword").cast("bigint").alias("n_stopword"),
        F.sum(pass_all).cast("bigint").alias("n_pass"),
    )


# BPE-ish pre-tokenizer: letter runs capped at 4 chars (greedy regex — a
# long word splits into 4-char pieces like subword units), single digits,
# single non-alphanumeric marks. Portable across Java regex (Spark) and
# DuckDB's RE2 — no lookarounds, no \p classes.
BPE_PIECE_RE = "[A-Za-z]{1,4}|[0-9]|[^A-Za-z0-9 ]"


def bpe_token_stats(documents: DataFrame, text_col: str = "text") -> DataFrame:
    """Subword-style token accounting: BPE-ish regex piece count next to the
    whitespace word count, and fertility = pieces per word — the number that
    decides context-window budgeting and tokenizer choice for a corpus.

    Pure JVM ``regexp_extract_all`` projection + trivial per-doc math: zero
    shuffles, scales with partition count. (A real trained-BPE vocab merge
    is a per-row trie walk — the regex pre-tokenizer is the corpus-stats
    proxy used before committing to training one.)
    """
    c = F.col(text_col)
    pieces = F.size(F.regexp_extract_all(c, F.lit(BPE_PIECE_RE), F.lit(0)))
    words = F.size(F.split(c, " "))
    return documents.select(
        "doc_id",
        pieces.cast("bigint").alias("n_pieces"),
        words.cast("bigint").alias("n_words"),
        F.round(pieces / words, 6).alias("fertility"),
    )


def quality_cdf(documents: DataFrame, text_col: str = "text") -> DataFrame:
    """Quality-score histogram with cumulative fraction — the curve a
    curator reads to pick a gate threshold for a target keep rate ("drop
    the bottom 20%" = smallest score with cum_frac ≥ 0.2).

    The corpus pass is the same zero-shuffle scoring projection as
    :func:`quality_score` plus one ~100-group aggregate; the cumulative
    window runs over the ≤101 distinct integer scores — a driver-trivial
    relation at ANY corpus size, which is why this is scale-safe where a
    per-document global rank (ntile/percent_rank) would funnel the whole
    corpus through one task.
    """
    scored = quality_score(documents, text_col).select("quality_score")
    hist = scored.groupBy("quality_score").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs")
    )
    from pyspark.sql.window import Window

    w = Window.orderBy("quality_score").rowsBetween(Window.unboundedPreceding, 0)
    total = hist.agg(F.sum("n_docs").alias("total"))
    return (
        hist.withColumn("cum_docs", F.sum("n_docs").over(w).cast("bigint"))
        .crossJoin(F.broadcast(total))
        .select(
            "quality_score",
            "n_docs",
            "cum_docs",
            F.round(F.col("cum_docs") / F.col("total"), 6).alias("cum_frac"),
        )
    )


def dup_span_coverage(
    documents: DataFrame,
    n: int = 8,
    min_docs: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document duplicated-content coverage: the fraction of each
    document's tokens covered by at least one ``n``-gram span that occurs
    in ≥ ``min_docs`` distinct documents — the document-level companion to
    :func:`repeated_ngrams` (that one ranks the spans; this one scores the
    docs, the number a span-dedup gate actually thresholds on).

    Coverage is an exact union-of-intervals: hot-span start positions are
    sorted per doc and each contributes min(n, gap-to-previous-start) newly
    covered tokens — overlapping spans never double-count.

    Plan: one explode → two uniform-key span aggs (the q58 two-level shape,
    no countDistinct Expand) → semi-join positions against hot spans → one
    per-doc window over hot positions only (orders of magnitude fewer rows
    than tokens) → per-doc agg, left-joined onto the narrow per-doc token
    counts so clean docs report 0.0.
    """
    from pyspark.sql.window import Window

    words = documents.select(
        F.col(id_col), F.split(F.col(text_col), " ").alias("words")
    )
    starts = F.expr(
        f"CASE WHEN size(words) >= {n} THEN sequence(1, size(words) - {n - 1}) "
        f"ELSE array() END"
    )
    # Round 11 (guide §5): the span relation (expensive slice+join string
    # generation per position) feeds both the hot-span census and the
    # position semi-join — persist so it is generated once.
    spans = share_relation(
        words.select(
            F.col(id_col),
            F.posexplode(
                F.transform(
                    starts, lambda s: F.array_join(F.slice(F.col("words"), s, n), " ")
                )
            ).alias("pos0", "span"),
        ).select(F.col(id_col), (F.col("pos0") + 1).alias("pos"), "span")
    )
    per_doc = spans.groupBy("span", id_col).agg(F.count(F.lit(1)).alias("occ"))
    hot = (
        per_doc.groupBy("span")
        .agg(F.count(F.lit(1)).alias("span_docs"))
        .filter(F.col("span_docs") >= min_docs)
        .select("span")
    )
    hot_pos = spans.join(hot, "span", "left_semi")
    w = Window.partitionBy(id_col).orderBy("pos")
    inc = F.when(F.lag("pos").over(w).isNull(), F.lit(n)).otherwise(
        F.least(F.lit(n), F.col("pos") - F.lag("pos").over(w))
    )
    cov = (
        hot_pos.withColumn("inc", inc)
        .groupBy(id_col)
        .agg(F.sum("inc").cast("bigint").alias("covered_tokens"))
    )
    base = documents.select(
        F.col(id_col), F.size(F.split(F.col(text_col), " ")).cast("bigint").alias("n_tokens")
    )
    return base.join(cov, id_col, "left").select(
        F.col(id_col),
        "n_tokens",
        F.coalesce(F.col("covered_tokens"), F.lit(0)).cast("bigint").alias("covered_tokens"),
        F.round(
            F.coalesce(F.col("covered_tokens"), F.lit(0)) / F.col("n_tokens"), 6
        ).alias("dup_frac"),
    )


def slice_divergence(
    documents: DataFrame,
    slice_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Per-slice KL divergence of the token distribution vs the whole
    corpus: KL(P_s || P) = Σ_t p_s(t)·ln(p_s(t)/p(t)) — the data-mix
    diagnostic that flags a source/domain whose language drifted from the
    blend it is being mixed into (tokenizer-mismatch detection, crawl-dump
    regression checks, mix re-weighting inputs all read this number).

    Output: (slice, n_tokens, kl) — kl ≥ 0, 0 iff the slice matches the
    corpus distribution exactly.

    Scale: one token explode feeding ONE (slice, token) aggregation; the
    corpus marginals derive from that same relation (second small agg on
    its output — ∝ vocab, not corpus), the per-slice totals are a k-row
    broadcast, and the grand total is a 1-row cross join. p_s(t) > 0
    everywhere by construction (counts come from the slice itself), so the
    KL is always finite — no smoothing needed."""
    tok = documents.select(
        F.col(slice_col).alias("s"),
        F.explode(F.split(F.col(text_col), " ")).alias("t"),
    )
    st = tok.groupBy("s", "t").agg(F.count(F.lit(1)).alias("c_st"))
    t_tot = st.groupBy("t").agg(F.sum("c_st").alias("c_t"))
    s_tot = st.groupBy("s").agg(F.sum("c_st").alias("n_s"))
    grand = s_tot.agg(F.sum("n_s").alias("n_total"))
    return (
        st.join(t_tot, "t")
        .join(F.broadcast(s_tot), "s")
        .crossJoin(F.broadcast(grand))
        .groupBy("s", "n_s")
        .agg(
            F.round(
                F.sum(
                    (F.col("c_st") / F.col("n_s"))
                    * F.log(
                        (F.col("c_st") / F.col("n_s"))
                        / (F.col("c_t") / F.col("n_total"))
                    )
                ),
                6,
            ).alias("kl")
        )
        .select(
            F.col("s").alias(slice_col),
            F.col("n_s").cast("bigint").alias("n_tokens"),
            "kl",
        )
    )


def chunk_dedup_stats(
    documents: DataFrame,
    chunk_tokens: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Chunk-level (paragraph-analog) exact dedup statistics, C4/Dolma
    style: split every document into non-overlapping ``chunk_tokens``-token
    windows, hash each window, and report per document how much of it is
    corpus-duplicated content and how many of its chunks a
    keep-first-occurrence span-dedup pass would strip.

    A chunk occurrence is *removable* when an identical chunk appears
    earlier in the corpus under the global (doc_id, chunk_idx) order — the
    deterministic "first writer wins" rule the reference applies to
    content-addressed SSTable uploads (UploadTracker.java:106-124),
    re-expressed at sub-document granularity.

    Output: (doc_id, n_chunks, n_dup_chunks, n_removable, dup_frac).

    Scale: chunking is a narrow slice/explode; the only shuffles are the
    chunk-hash aggregation (md5 keys — uniform, no skew) and the join
    back, both map-side combinable. Chunk count ∝ corpus tokens /
    chunk_tokens, so the shuffled relation is a fixed fraction of the
    scan — the same shape at 100 TB."""
    chunks = chunk_documents(
        documents, chunk_tokens, chunk_tokens, text_col, id_col
    ).select(
        id_col,
        "chunk_idx",
        "chunk_hash",
        # Global first-occurrence order: doc_id then position within doc.
        (F.col(id_col) * F.lit(1_000_000) + F.col("chunk_idx")).alias("occ_key"),
    )
    freq = chunks.groupBy("chunk_hash").agg(
        F.count(F.lit(1)).alias("n_occ"),
        F.min("occ_key").alias("first_key"),
    )
    return (
        chunks.join(freq, "chunk_hash")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_chunks"),
            F.sum(F.when(F.col("n_occ") > 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_dup_chunks"),
            F.sum(F.when(F.col("occ_key") != F.col("first_key"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_removable"),
        )
        .select(
            F.col(id_col).cast("bigint").alias(id_col),
            "n_chunks",
            "n_dup_chunks",
            "n_removable",
            F.round(F.col("n_dup_chunks") / F.col("n_chunks"), 6).alias("dup_frac"),
        )
    )


def conjunctive_search(
    documents: DataFrame,
    terms: tuple[str, ...],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Boolean-AND term search over the corpus via the inverted-index
    shape: explode to (doc, term) postings, keep only the query terms, and
    a document matches when it covers every term.

    Output: (doc_id, total_tf) for matching docs — total_tf = summed
    occurrences of the query terms, the rank key a retrieval layer sorts
    on (bm25_topk is the scored sibling).

    Scale: the `isin` filter reduces the posting relation to query-term
    rows BEFORE any shuffle (predicate on the exploded column, pushed into
    the same stage as the scan); the aggregation shuffle carries only docs
    containing ≥1 query term. Equivalent to probing |q| posting lists and
    intersecting — no full-corpus shuffle."""
    hits = (
        documents.select(
            F.col(id_col), F.explode(tokens(text_col)).alias("term")
        )
        .filter(F.col("term").isin(*terms))
        .groupBy(id_col)
        .agg(
            F.count_distinct(F.col("term")).alias("n_terms"),
            F.count(F.lit(1)).cast("bigint").alias("total_tf"),
        )
    )
    return (
        hits.filter(F.col("n_terms") == len(terms))
        .select(F.col(id_col).cast("bigint").alias(id_col), "total_tf")
    )


def build_postings(
    documents: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_postings: int = 10_000,
) -> DataFrame:
    """Materialized inverted index: one row per term with document
    frequency and the (truncated, ascending) posting list of doc ids.

    `max_postings` caps the stored list for stop-word-grade terms (their
    full lists are useless for retrieval and quadratic to materialize);
    `df` remains exact either way.

    Scale: one (term, doc) distinct + one term aggregation; `slice` after
    `array_sort` bounds output row width. Posting lists for genuinely hot
    terms should live behind the cap; exact intersection for such terms
    routes through :func:`conjunctive_search` instead (never reads the
    materialized list)."""
    td = documents.select(
        F.col(id_col), F.explode(tokens(text_col)).alias("term")
    ).groupBy("term", id_col).agg(F.count(F.lit(1)).alias("tf"))
    return td.groupBy("term").agg(
        F.count(F.lit(1)).cast("bigint").alias("df"),
        F.sum("tf").cast("bigint").alias("total_tf"),
        F.slice(
            F.array_sort(F.collect_list(F.col(id_col).cast("bigint"))),
            1,
            max_postings,
        ).alias("postings"),
    )


def dsir_importance(
    documents: DataFrame,
    target_pred: Column,
    buckets: int = 8192,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_family: str = "xxhash64",
) -> DataFrame:
    """DSIR-style importance weights (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"): score every document by
    the average hashed-unigram log-likelihood ratio between a target
    distribution (rows where ``target_pred`` holds) and the raw corpus.

    w(doc) = (1/n_tokens) · Σ_t [ln p̂_target(b(t)) − ln p̂_raw(b(t))]
    with b(t) = hash(t) mod `buckets` and add-one smoothing on both
    distributions; positive scores mean "looks like the target".

    Output: (doc_id, n_tokens, dsir_score) for ALL docs, score rounded to
    6dp. Resampling = feed `dsir_score` to sampling.score_weighted_sample
    or threshold at a chosen quantile.

    Scale: the two bucket histograms aggregate to ≤ `buckets` rows each —
    broadcast-sized by construction (that is the point of hashed
    features). Token rows join the broadcast stats map-side, then one
    aggregation per doc: a scan plus two bounded broadcasts, no
    corpus-scale shuffle beyond the per-doc agg."""
    from .dedup import md5_hash32

    def bucket_of(col: Column) -> Column:
        h = md5_hash32(col) if hash_family == "md5" else F.xxhash64(col)
        return F.pmod(h, F.lit(buckets))

    tok = documents.select(
        F.col(id_col),
        target_pred.alias("is_target"),
        F.explode(tokens(text_col)).alias("w"),
    ).select(F.col(id_col), "is_target", bucket_of(F.col("w")).alias("b"))
    stats = tok.groupBy("b").agg(
        F.sum(F.when(F.col("is_target"), 1).otherwise(0)).alias("c_t"),
        F.count(F.lit(1)).alias("c_r"),
    )
    totals = stats.agg(
        F.sum("c_t").alias("n_t"), F.sum("c_r").alias("n_r")
    )
    weighted = (
        tok.join(F.broadcast(stats), "b")
        .crossJoin(F.broadcast(totals))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(
                F.log((F.col("c_t") + 1) / (F.col("n_t") + buckets))
                - F.log((F.col("c_r") + 1) / (F.col("n_r") + buckets))
            ).alias("llr_sum"),
        )
    )
    return weighted.select(
        F.col(id_col).cast("bigint").alias(id_col),
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        F.round(F.col("llr_sum") / F.col("n_tokens"), 6).alias("dsir_score"),
    )


def zipf_fit(
    documents: DataFrame,
    top_v: int = 2000,
    text_col: str = "text",
) -> DataFrame:
    """Zipf's-law fit of the corpus token distribution: least-squares slope
    of ln(freq) against ln(rank) over the top ``top_v`` terms — natural
    language sits near slope −1; a slope collapse flags template/boilerplate
    floods or tokenizer damage long before eval metrics move.

    Output: one row (n_terms, slope, intercept), 6dp.

    Scale: term frequencies are one map-side-combinable aggregation
    (shuffle ∝ vocab); the top-V cut is a distributed TakeOrdered (per-
    partition heaps, never a global sort of the vocab); the rank window
    and the closed-form regression then run on ≤ top_v rows — the same
    bounded-grain argument as the quality CDF (q72)."""
    tf = (
        documents.select(F.explode(tokens(text_col)).alias("t"))
        .groupBy("t")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    top = tf.orderBy(F.col("c").desc(), F.col("t").asc()).limit(top_v)
    w = Window.orderBy(F.col("c").desc(), F.col("t").asc())
    xy = top.select(
        F.log(F.row_number().over(w).cast("double")).alias("x"),
        F.log(F.col("c").cast("double")).alias("y"),
    )
    n = F.count(F.lit(1)).cast("double")
    agg = xy.agg(
        n.alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    return agg.select(
        F.col("n").cast("bigint").alias("n_terms"),
        F.round(
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
            / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")),
            6,
        ).alias("slope"),
        F.round(
            (F.col("sy") - (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
             / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
             * F.col("sx"))
            / F.col("n"),
            6,
        ).alias("intercept"),
    )


def cms_term_counts(
    documents: DataFrame,
    query_top_k: int = 20,
    depth: int = 4,
    width: int = 1024,
    text_col: str = "text",
) -> DataFrame:
    """Count-min-sketch term frequency estimates, checked against exact
    counts for the corpus's top-``query_top_k`` terms.

    The sketch is depth × width counters; counter (d, b) sums every token
    whose d-th seeded hash lands in bucket b, and the estimate for a term
    is the MIN over its depth counters — deterministic (no sampling), always
    ≥ the true count, expected error ≤ 2N/width with prob 1−2^−depth.

    Output: (term, exact_c, est_c) for the exact top-k (count desc, term
    asc tiebreak); est_c == exact_c unless the term collided in all rows.

    Scale: this is the sketch the 100 TB path keeps when the vocab itself
    is too wide to aggregate — the sketch relation is ≤ depth·width rows
    REGARDLESS of corpus size (mergeable, map-side combinable), and
    estimating any term is a depth-row lookup. The exact leg exists here
    for verification; production queries read only the sketch. Hash =
    cross-engine md5 family, so the whole construction replays in SQL."""
    from .dedup import md5_hash32

    tok = documents.select(F.explode(tokens(text_col)).alias("t"))
    rows = tok.select(
        "t",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(d).alias("d"),
                        F.pmod(
                            md5_hash32(F.concat(F.lit(f"cms{d}:"), F.col("t"))),
                            F.lit(width),
                        ).alias("b"),
                    )
                    for d in range(depth)
                ]
            )
        ).alias("db"),
    ).select("t", F.col("db.d").alias("d"), F.col("db.b").alias("b"))
    sketch = rows.groupBy("d", "b").agg(F.count(F.lit(1)).alias("c"))
    exact = (
        tok.groupBy("t")
        .agg(F.count(F.lit(1)).alias("exact_c"))
        .orderBy(F.col("exact_c").desc(), F.col("t").asc())
        .limit(query_top_k)
    )
    probes = exact.select(
        "t",
        "exact_c",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(d).alias("d"),
                        F.pmod(
                            md5_hash32(F.concat(F.lit(f"cms{d}:"), F.col("t"))),
                            F.lit(width),
                        ).alias("b"),
                    )
                    for d in range(depth)
                ]
            )
        ).alias("db"),
    ).select("t", "exact_c", F.col("db.d").alias("d"), F.col("db.b").alias("b"))
    return (
        probes.join(F.broadcast(sketch), ["d", "b"])
        .groupBy("t", "exact_c")
        .agg(F.min("c").alias("est_c"))
        .select(
            F.col("t").alias("term"),
            F.col("exact_c").cast("bigint").alias("exact_c"),
            F.col("est_c").cast("bigint").alias("est_c"),
        )
    )


def pmi_scored(
    documents: DataFrame,
    min_count: int = 5,
    text_col: str = "text",
) -> DataFrame:
    """The full PMI-scored adjacent-bigram relation (vocab-pair grain):
    ``(w1, w2, c_xy, pmi)`` with pmi rounded to 6 dp — shared by the
    top-k collocation report (q91) and the PMI-graph term clustering
    (q176), same plan either way."""
    words = documents.select(F.split(F.col(text_col), " ").alias("ws"))
    bi = words.select(
        F.explode(
            F.expr(
                "filter(transform(sequence(1, size(ws)),"
                " i -> IF(i < size(ws), struct(ws[i-1] AS w1, ws[i] AS w2), NULL)),"
                " x -> x IS NOT NULL)"
            )
        ).alias("p")
    ).select(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
    uni = documents.select(F.explode(tokens(text_col)).alias("w"))
    c_bi = bi.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c_xy"))
    c_uni = uni.groupBy("w").agg(F.count(F.lit(1)).alias("c_w"))
    n_uni = uni.agg(F.count(F.lit(1)).alias("n")).withColumn("_k", F.lit(1))
    n_bi = bi.agg(F.count(F.lit(1)).alias("nb")).withColumn("_k", F.lit(1))
    totals = F.broadcast(n_uni.join(n_bi, "_k").drop("_k"))
    scored = (
        c_bi.filter(F.col("c_xy") >= min_count)
        .join(
            F.broadcast(c_uni.select(F.col("w").alias("w1"), F.col("c_w").alias("c_x"))),
            "w1",
        )
        .join(
            F.broadcast(c_uni.select(F.col("w").alias("w2"), F.col("c_w").alias("c_y"))),
            "w2",
        )
        .crossJoin(totals)
        .select(
            "w1",
            "w2",
            F.col("c_xy").cast("bigint").alias("c_xy"),
            F.round(
                F.log(
                    (F.col("c_xy") / F.col("nb"))
                    / ((F.col("c_x") / F.col("n")) * (F.col("c_y") / F.col("n")))
                ),
                6,
            ).alias("pmi"),
        )
    )
    return scored


def pmi_collocations(
    documents: DataFrame,
    top_k: int = 50,
    min_count: int = 5,
    text_col: str = "text",
) -> DataFrame:
    """Top collocations by pointwise mutual information: adjacent token
    pairs whose co-occurrence beats chance — the signal a tokenizer/vocab
    builder uses to decide what deserves a merged token, and a cheap
    detector of templated text (templates produce impossible-by-chance
    PMI spikes).

    pmi(x,y) = ln( (c_xy/Nb) / ((c_x/N)(c_y/N)) ), pairs with c_xy ≥
    ``min_count``; output top_k by (pmi desc, w1 asc, w2 asc), 6dp.

    Scale: bigram and unigram counts are two map-side-combinable aggs
    (shuffle ∝ vocab/bigram-vocab); totals are 1-row broadcasts, the
    unigram relation broadcasts onto the bigram one at vocab grain, and
    the top-k is a distributed TakeOrdered — no corpus-scale sort."""
    return (
        pmi_scored(documents, min_count=min_count, text_col=text_col)
        .orderBy(F.col("pmi").desc(), F.col("w1").asc(), F.col("w2").asc())
        .limit(top_k)
    )


def score_drift_psi(
    documents: DataFrame,
    slice_col: str = "source",
    n_bins: int = 10,
    text_col: str = "text",
) -> DataFrame:
    """Population stability index of the quality-score distribution per
    slice vs the corpus: PSI_s = Σ_bins (p_sb − p_b)·ln(p_sb/p_b) over
    score deciles, with the standard ε-floor on empty bins (max(p, 1e-4),
    so identical distributions give exactly 0) — the "did this source's
    quality profile drift away from the blend" monitor (the score-space
    sibling of slice_divergence's token-space KL).

    Output: (slice, n_docs, psi), 6dp; PSI < 0.1 is conventionally stable.

    Scale: the score is a scan projection; the only shuffle is the
    (slice, bin) aggregation — k·n_bins keys. Corpus marginals derive
    from that same relation; everything downstream is broadcast-grain."""
    binned = documents.select(
        F.col(slice_col).alias("s"),
        F.least(
            F.lit(n_bins - 1),
            F.floor(quality_score_col(text_col) * n_bins / 100),
        ).cast("int").alias("bin"),
    )
    sb = binned.groupBy("s", "bin").agg(F.count(F.lit(1)).alias("c_sb"))
    # densify: every (slice, bin) cell exists so add-one smoothing is uniform
    slices = sb.select("s").distinct()
    bins = sb.sparkSession.range(n_bins).select(F.col("id").cast("int").alias("bin"))
    dense = (
        slices.crossJoin(F.broadcast(bins))
        .join(sb, ["s", "bin"], "left")
        .select("s", "bin", F.coalesce(F.col("c_sb"), F.lit(0)).alias("c_sb"))
    )
    s_tot = dense.groupBy("s").agg(F.sum("c_sb").alias("n_s"))
    b_tot = dense.groupBy("bin").agg(F.sum("c_sb").alias("c_b"))
    grand = s_tot.agg(F.sum("n_s").alias("n_total"))
    return (
        dense.join(F.broadcast(b_tot), "bin")
        .join(F.broadcast(s_tot), "s")
        .crossJoin(F.broadcast(grand))
        .groupBy("s", "n_s")
        .agg(
            F.round(
                F.sum(
                    (
                        F.greatest(F.col("c_sb") / F.col("n_s"), F.lit(1e-4))
                        - F.greatest(
                            F.col("c_b") / F.col("n_total"), F.lit(1e-4)
                        )
                    )
                    * F.log(
                        F.greatest(F.col("c_sb") / F.col("n_s"), F.lit(1e-4))
                        / F.greatest(
                            F.col("c_b") / F.col("n_total"), F.lit(1e-4)
                        )
                    )
                ),
                6,
            ).alias("psi")
        )
        .select(
            F.col("s").alias(slice_col),
            F.col("n_s").cast("bigint").alias("n_docs"),
            "psi",
        )
    )


def corpus_datasheet(
    documents: DataFrame,
    text_col: str = "text",
) -> DataFrame:
    """One-pass corpus report card per language plus the ALL row — the
    datasheet a release ships with: volume, token mass, exact-dup rate,
    quality quartiles, source diversity.

    Output per (lang | 'ALL'): n_docs, n_tokens, n_sources, dup_docs
    (docs in excess of one per exact content hash), q25/q50/q75 quality
    quartiles.

    Scale: every per-doc signal (hash, token count, quality) is one fused
    scan projection — no self-joins; the doc-grain rollup and the
    hash-grain dup rollup are two independent aggregations whose outputs
    are lang-grain (broadcast-sized), joined at the end. Nothing holds a
    per-group list (dup counting is `sum(n_same − 1)`, not membership).
    Quartiles are exact percentile per group — at true 100 TB swap for
    approx_percentile (same schema, documented sketch path)."""
    per_doc = documents.select(
        F.col("lang"),
        F.col("source"),
        F.md5(F.col(text_col)).alias("h"),
        F.size(tokens(text_col)).cast("bigint").alias("n_tok"),
        quality_score_col(text_col).alias("q"),
    )
    doc_rollup = (
        per_doc.rollup("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_tok").cast("bigint").alias("n_tokens"),
            F.count_distinct("source").cast("bigint").alias("n_sources"),
            F.round(F.expr("percentile(q, 0.25)"), 4).alias("q25"),
            F.round(F.expr("percentile(q, 0.5)"), 4).alias("q50"),
            F.round(F.expr("percentile(q, 0.75)"), 4).alias("q75"),
        )
        .withColumn("lang", F.coalesce(F.col("lang"), F.lit("ALL")))
    )
    hash_grain = per_doc.groupBy("lang", "h").agg(
        F.count(F.lit(1)).alias("n_same")
    )
    dup_by_lang = (
        hash_grain.rollup("lang")
        .agg(F.sum(F.col("n_same") - 1).cast("bigint").alias("dup_docs"))
        .withColumn("lang", F.coalesce(F.col("lang"), F.lit("ALL")))
    )
    # the ALL row of the hash rollup would double-count a hash shared
    # across languages as distinct groups; recompute the ALL dup count at
    # the global hash grain instead
    global_dups = (
        per_doc.groupBy("h")
        .agg(F.count(F.lit(1)).alias("n_same"))
        .agg(F.sum(F.col("n_same") - 1).cast("bigint").alias("dup_docs"))
        .withColumn("lang", F.lit("ALL"))
    )
    dups = dup_by_lang.filter(F.col("lang") != "ALL").unionByName(
        global_dups.select("lang", "dup_docs")
    )
    return doc_rollup.join(dups, "lang").select(
        "lang", "n_docs", "n_tokens", "n_sources", "dup_docs",
        "q25", "q50", "q75",
    )


def phrase_search(
    documents: DataFrame,
    phrase: tuple[str, ...],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact phrase retrieval via POSITIONAL postings: the query terms must
    appear consecutively in order. Candidates come from the conjunctive
    term probe; the adjacency check intersects position lists shifted by
    the term's offset in the phrase (the classic positional-index
    algorithm, expressed as a groupBy over (doc, aligned-start)).

    Output: (doc_id, n_occurrences) for docs containing the phrase.

    Scale: postings are filtered to the |q| query terms inside the scan
    stage (same argument as conjunctive_search); each surviving posting
    row carries (doc, term-offset-aligned start); a phrase hit is a
    (doc, start) group covering all |q| offsets — one aggregation whose
    input is ∝ query-term postings, never the corpus."""
    plen = len(phrase)
    # positions of each token, 1-based; align every query-term hit to the
    # phrase start it would imply
    pos = documents.select(
        F.col(id_col),
        F.posexplode(tokens(text_col)).alias("p", "term"),
    ).filter(F.col("term").isin(*phrase))
    aligned = None
    for off, term in enumerate(phrase):
        leg = pos.filter(F.col("term") == term).select(
            id_col, (F.col("p") - off).alias("start"), F.lit(off).alias("off")
        )
        aligned = leg if aligned is None else aligned.unionByName(leg)
    hits = (
        aligned.groupBy(id_col, "start")
        .agg(F.count_distinct("off").alias("n_off"))
        .filter(F.col("n_off") == plen)
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_occurrences"))
    )
    return hits.select(F.col(id_col).cast("bigint").alias(id_col), "n_occurrences")


def char_entropy(documents: DataFrame, text_col: str = "text") -> DataFrame:
    """Q100: per-document character-level Shannon entropy (bits) — a
    classic gibberish/repetition quality signal.

    Two-level codegen aggregation, the q58 shape: explode chars →
    hash-agg on (doc, char) → per-doc entropy fold
    ``H = log2(n) − Σ c·log2(c) / n``. Map-side partial aggregation
    compresses the shuffle to ≤|alphabet| rows per doc per partition, so
    the exchange carries the HISTOGRAM grain, never the corpus characters.
    (An array-HOF formulation with zero shuffle was MEASURED 3× slower —
    Spark evaluates lambda functions interpreted, outside whole-stage
    codegen, so |alphabet|·|text| interpreted comparisons lose to two
    codegen'd hash aggregations.)
    """
    cnt = (
        documents.select(
            "doc_id", F.explode(F.split(F.col(text_col), "")).alias("c")
        )
        .groupBy("doc_id", "c")
        .agg(F.count(F.lit(1)).alias("k"))
    )
    n = F.sum("k")
    return cnt.groupBy("doc_id").agg(
        n.cast("bigint").alias("n_chars_split"),
        F.round(
            F.log2(n) - F.sum(F.col("k") * F.log2("k")) / n, 6
        ).alias("entropy_bits"),
    )


PAD_BUCKETS = (16, 32, 64, 128, 256, 512, 1024, 2048)


def padding_waste(
    documents: DataFrame,
    context_len: int = 128,
    text_col: str = "text",
) -> DataFrame:
    """Q101: sequence-length bucketing report for training-batch planning —
    docs binned to the smallest power-of-two bucket that fits (capped at
    ``context_len``), with padded-slot waste and truncation loss per
    bucket.

    Pure scan + one tiny aggregation on the bucket grain. The bucket edge
    test is an integer CASE chain (never float log2), so both engines bin
    identically.
    """
    edges = [b for b in PAD_BUCKETS if b < context_len]
    n = F.size(F.split(F.col(text_col), " "))
    bucket = F.lit(context_len)
    for b in reversed(edges):
        bucket = F.when(n <= b, F.lit(b)).otherwise(bucket)
    kept = F.least(n, F.lit(context_len))
    return (
        documents.select(
            bucket.cast("bigint").alias("bucket_len"),
            n.alias("n_tokens"),
            kept.alias("kept_tokens"),
        )
        .groupBy("bucket_len")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("kept_tokens").cast("bigint").alias("kept_tokens"),
            (
                F.col("bucket_len") * F.count(F.lit(1))
                - F.sum("kept_tokens")
            ).cast("bigint").alias("padded_slots"),
            F.sum(
                F.greatest(F.col("n_tokens") - F.lit(context_len), F.lit(0))
            ).cast("bigint").alias("truncated_tokens"),
        )
        .select(
            "bucket_len",
            "n_docs",
            "kept_tokens",
            "padded_slots",
            "truncated_tokens",
            F.round(
                F.col("padded_slots")
                / (F.col("bucket_len") * F.col("n_docs")),
                6,
            ).alias("waste_frac"),
        )
    )


def langid_confusion(
    documents: DataFrame,
    text_col: str = "text",
    lang_col: str = "lang",
    profiles: dict[str, tuple[str, ...]] | None = None,
) -> DataFrame:
    """Q102: confusion matrix of the marker-token language-ID heuristic
    against the labeled ``lang`` column — per (true, predicted) pair counts
    and the share of the true language's documents.

    The prediction is the same fused Column expression as q27 (no join);
    one aggregation to the |langs|² grain, where the row-normalizing
    window is negligible.
    """
    pred, _ = lang_pred_cols(text_col, profiles)
    pairs = (
        documents.select(
            F.col(lang_col).alias("true_lang"), pred.alias("pred_lang")
        )
        .groupBy("true_lang", "pred_lang")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    )
    w = Window.partitionBy("true_lang")
    return pairs.select(
        "true_lang",
        "pred_lang",
        "n_docs",
        F.round(F.col("n_docs") / F.sum("n_docs").over(w), 6).alias(
            "frac_of_true"
        ),
    )


def bpe_merge_candidates(
    documents: DataFrame, top_k: int = 20, text_col: str = "text"
) -> DataFrame:
    """Q105: the first step of BPE tokenizer training — adjacent-symbol
    pair counts over the word-frequency table, ranked by merge priority
    (count desc, pair asc tiebreak).

    Two aggregations, both on VOCABULARY grain (≪ corpus): word counts,
    then exploded symbol-pair counts weighted by word frequency. The
    corpus text is touched exactly once; iterating merges re-runs only
    the vocab-grain half with the merged symbol applied.
    """
    words = (
        documents.select(F.explode(tokens(text_col)).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        .withColumn("cs", F.split("word", ""))
    )
    pair_structs = F.when(
        F.size("cs") >= 2,
        F.transform(
            F.sequence(F.lit(0), F.size("cs") - 2),
            lambda i: F.struct(
                F.get(F.col("cs"), i).alias("left_sym"),
                F.get(F.col("cs"), i + 1).alias("right_sym"),
            ),
        ),
    ).otherwise(F.array())
    return (
        words.select("c", F.explode(pair_structs).alias("p"))
        .groupBy(
            F.col("p.left_sym").alias("left_sym"),
            F.col("p.right_sym").alias("right_sym"),
        )
        .agg(F.sum("c").cast("bigint").alias("pair_count"))
        .orderBy(F.desc("pair_count"), "left_sym", "right_sym")
        .limit(top_k)
    )


def score_auc(
    documents: DataFrame,
    label_col: str = "lang",
    pos_value: str = "en",
    text_col: str = "text",
) -> DataFrame:
    """Q106: ROC-AUC of the quality score as a classifier for a label
    (here: does score separate ``lang == pos_value``?) — the calibration
    check run before trusting a score as a curation gate.

    Mann-Whitney U computed from the score HISTOGRAM with midrank tie
    handling: the corpus pass is the zero-shuffle scoring projection +
    one ~100-group aggregate; the cumulative window runs over the ≤101
    distinct integer scores, never per-document (same scale argument as
    quality_cdf).
    """
    hist = (
        documents.select(
            quality_score_col(text_col).alias("s"),
            (F.col(label_col) == pos_value).alias("pos"),
        )
        .groupBy("s")
        .agg(
            F.sum(F.when(F.col("pos"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_pos"),
            F.sum(F.when(F.col("pos"), 0).otherwise(1))
            .cast("bigint")
            .alias("n_neg"),
        )
    )
    w = Window.orderBy("s").rowsBetween(Window.unboundedPreceding, -1)
    c = hist.withColumn(
        "cum_neg_before", F.coalesce(F.sum("n_neg").over(w), F.lit(0))
    )
    return c.agg(
        F.sum("n_pos").cast("bigint").alias("n_pos"),
        F.sum("n_neg").cast("bigint").alias("n_neg"),
        F.round(
            F.sum(
                F.col("n_pos")
                * (F.col("cum_neg_before") + F.col("n_neg") / 2.0)
            )
            / (F.sum("n_pos") * F.sum("n_neg")),
            6,
        ).alias("auc"),
    )


def heaps_fit(
    documents: DataFrame,
    stratum_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Q112: Heaps'-law fit V = K·N^beta over per-stratum (token mass,
    vocabulary) points — the growth-curve companion to the Zipf slope
    (q88): a corpus whose vocabulary growth departs from the fitted
    exponent signals template/boilerplate flooding or synthetic text.

    Two-level agg to the (stratum, token) grain then the stratum grain
    (≤|strata| points); the least-squares fold runs on those points in
    one tiny aggregation. Output: one row (n_strata, beta, k).
    """
    tok = documents.select(
        F.col(stratum_col).alias("stratum"),
        F.explode(tokens(text_col)).alias("tok"),
    )
    per = (
        tok.groupBy("stratum", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("stratum")
        .agg(
            F.sum("c").cast("double").alias("n_tokens"),
            F.count(F.lit(1)).cast("double").alias("vocab"),
        )
    )
    x = F.log("n_tokens")
    y = F.log("vocab")
    fit = per.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_strata"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x * y).alias("sxy"),
        F.sum(x * x).alias("sxx"),
    )
    n = F.col("n_strata").cast("double")
    beta = (F.col("sxy") - F.col("sx") * F.col("sy") / n) / (
        F.col("sxx") - F.col("sx") * F.col("sx") / n
    )
    intercept = F.col("sy") / n - beta * (F.col("sx") / n)
    return fit.select(
        "n_strata",
        F.round(beta, 6).alias("beta"),
        F.round(F.exp(intercept), 6).alias("k"),
    )


def distinct_ngram_diversity(
    documents: DataFrame,
    stratum_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Q115: distinct-1 / distinct-2 diversity per stratum — the share of
    unigram and bigram occurrences that are unique types (the standard
    template/degeneration signal: synthetic or boilerplate-flooded slices
    collapse toward 0).

    Two (stratum, gram) two-level aggs sharing the scan; output is the
    |strata| grain.
    """
    toks = tokens(text_col)
    uni = documents.select(
        F.col(stratum_col).alias("stratum"), F.explode(toks).alias("g")
    )
    w = F.col("_w")
    bi = (
        documents.select(
            F.col(stratum_col).alias("stratum"), toks.alias("_w")
        )
        .select(
            "stratum",
            F.explode(
                F.when(
                    F.size(w) >= 2,
                    F.transform(
                        F.sequence(F.lit(0), F.size(w) - 2),
                        lambda i: F.concat_ws(
                            " ", F.get(w, i), F.get(w, i + 1)
                        ),
                    ),
                ).otherwise(F.array())
            ).alias("g"),
        )
    )

    def _div(grams: DataFrame, total_name: str, distinct_name: str) -> DataFrame:
        return (
            grams.groupBy("stratum", "g")
            .agg(F.count(F.lit(1)).alias("c"))
            .groupBy("stratum")
            .agg(
                F.sum("c").cast("bigint").alias(total_name),
                F.count(F.lit(1)).cast("bigint").alias(distinct_name),
            )
        )

    d1 = _div(uni, "n_unigrams", "distinct_unigrams")
    d2 = _div(bi, "n_bigrams", "distinct_bigrams")
    return d1.join(d2, "stratum").select(
        "stratum",
        "n_unigrams",
        "distinct_unigrams",
        F.round(F.col("distinct_unigrams") / F.col("n_unigrams"), 6).alias(
            "distinct_1"
        ),
        "n_bigrams",
        "distinct_bigrams",
        F.round(F.col("distinct_bigrams") / F.col("n_bigrams"), 6).alias(
            "distinct_2"
        ),
    )


def quality_length_correlation(
    documents: DataFrame,
    stratum_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Q117: Pearson correlation of quality score vs token count per
    stratum — the confound check run before using either signal as a
    curation gate (a strong correlation means a length filter silently
    duplicates the quality filter).

    One scan projecting the two integer signals, one stratum-grain
    aggregation of integer co-moments — every sum is exact, so the
    correlation is order-independent cross-engine.
    """
    n_tok = F.size(tokens(text_col))
    q = quality_score_col(text_col)
    per = documents.select(
        F.col(stratum_col).alias("stratum"),
        n_tok.cast("bigint").alias("x"),
        q.alias("y"),
    ).groupBy("stratum").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    n = F.col("n").cast("double")
    cov = F.col("sxy") - F.col("sx") * F.col("sy") / n
    vx = F.col("sxx") - F.col("sx") * F.col("sx") / n
    vy = F.col("syy") - F.col("sy") * F.col("sy") / n
    return per.select(
        "stratum",
        "n",
        F.round(cov / F.sqrt(vx * vy), 6).alias("pearson_r"),
    )


def length_gini(documents: DataFrame, text_col: str = "text") -> DataFrame:
    """Q118: Gini coefficient of the document token-mass distribution —
    "what share of the corpus token budget do the longest docs hold"
    (mass concentration drives shard-packing skew and dedup-cluster
    economics).

    Computed EXACTLY from the length histogram, never a per-doc global
    sort: for grouped data with lengths sorted ascending,
    G = (2·Σ_g c_g·x_g·(C_{g-1} + (c_g+1)/2) / (N·T)) − (N+1)/N, where
    C is the cumulative doc count before the group. Distinct lengths are
    bounded (≤ max doc length), so the cumulative window runs on the
    histogram grain — the q72/q106 scale argument.
    """
    n_tok = F.size(tokens(text_col)).cast("bigint")
    hist = (
        documents.select(n_tok.alias("len"))
        .groupBy("len")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    w = Window.orderBy("len").rowsBetween(Window.unboundedPreceding, -1)
    g = hist.withColumn(
        "cum_before", F.coalesce(F.sum("c").over(w), F.lit(0))
    )
    # Σ c·x·(2·cum_before + c + 1) is an exact integer; assemble G from
    # the three integer totals in one deterministic expression
    agg = g.agg(
        F.sum("c").alias("n_docs"),
        F.sum(F.col("c") * F.col("len")).alias("total_tokens"),
        F.sum(
            F.col("c")
            * F.col("len")
            * (F.lit(2) * F.col("cum_before") + F.col("c") + F.lit(1))
        ).alias("weighted"),
    )
    n = F.col("n_docs").cast("double")
    t = F.col("total_tokens").cast("double")
    gini = F.col("weighted").cast("double") / (n * t) - (n + 1.0) / n
    return agg.select(
        F.col("n_docs").cast("bigint").alias("n_docs"),
        F.col("total_tokens").cast("bigint").alias("total_tokens"),
        F.round(gini, 6).alias("gini"),
    )


def chunk_dedup_rewrite(
    documents: DataFrame,
    chunk_tokens: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Duplicate-chunk REMOVAL rewrite — the destructive sibling of
    :func:`chunk_dedup_stats`: split each document into non-overlapping
    ``chunk_tokens``-token chunks, keep only each chunk-text's globally
    FIRST occurrence (deterministic "first writer wins" under the
    (doc_id, chunk_idx) order — the same rule the reference applies to
    content-addressed SSTable uploads, UploadTracker.java:106-124), and
    reassemble what survives into a cleaned document.

    Output per document: ``doc_id, n_tokens_before, n_tokens_after,
    kept_frac, text_hash`` where ``text_hash`` is the md5 of the rebuilt
    text (kept chunks joined by a single space, original order) — the
    cheap cross-engine witness that two engines rebuilt the SAME string
    without shipping the strings around.

    Scale: chunking is a narrow slice/explode (chunk relation ∝ corpus
    tokens / chunk_tokens); the winner resolution is one md5-keyed
    aggregation (uniform keys, map-side combinable) plus a join back; the
    rebuild is one groupBy(doc_id) whose collect_list is bounded by a
    single document's chunk count — never corpus-scale state in one task.
    Documents whose every chunk loses are preserved with
    ``n_tokens_after = 0`` and the md5 of the empty string via the final
    left join from the documents relation.
    """
    words = documents.select(
        F.col(id_col), F.split(F.col(text_col), " ").alias("_w")
    ).withColumn("_n", F.size("_w"))
    chunks = (
        words.withColumn(
            "chunk_idx",
            F.explode(F.sequence(F.lit(0), ((F.col("_n") - 1) / chunk_tokens).cast("int"))),
        )
        .select(
            id_col,
            "chunk_idx",
            F.array_join(
                F.slice(F.col("_w"), F.col("chunk_idx") * chunk_tokens + 1, chunk_tokens),
                " ",
            ).alias("chunk"),
        )
        .withColumn(
            "occ_key", F.col(id_col) * F.lit(1_000_000) + F.col("chunk_idx")
        )
    )
    winners = chunks.groupBy("chunk").agg(F.min("occ_key").alias("first_key"))
    kept = (
        chunks.join(winners, "chunk")
        .filter(F.col("occ_key") == F.col("first_key"))
        .groupBy(id_col)
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("chunk_idx", "chunk"))),
                    lambda s: s["chunk"],
                ),
                " ",
            ).alias("_rebuilt"),
        )
    )
    return (
        words.join(kept, id_col, "left")
        .select(
            F.col(id_col).cast("bigint").alias(id_col),
            F.col("_n").cast("bigint").alias("n_tokens_before"),
            F.when(
                F.col("_rebuilt").isNull() | (F.col("_rebuilt") == ""), F.lit(0)
            )
            .otherwise(F.size(F.split(F.col("_rebuilt"), " ")))
            .cast("bigint")
            .alias("n_tokens_after"),
            F.md5(F.coalesce(F.col("_rebuilt"), F.lit(""))).alias("text_hash"),
        )
        .withColumn(
            "kept_frac", F.round(F.col("n_tokens_after") / F.col("n_tokens_before"), 6)
        )
    )


def vocab_coverage(
    documents: DataFrame,
    cutoffs: tuple[int, ...] = (10, 100, 1000),
    text_col: str = "text",
) -> DataFrame:
    """Vocabulary coverage curve: what fraction of the corpus token mass the
    top-k most frequent tokens cover, at each cutoff — the sizing signal
    for tokenizer vocab / OOV-budget decisions (companion to
    :func:`vocab_topk` / :func:`oov_rate`).

    Scale: one explode → uniform-key hash agg to the vocab grain, a single
    TakeOrderedAndProject for the max(cutoffs) head, then the cumulative
    window runs on that BOUNDED head relation (≤ max cutoff rows — the q72
    score-grain argument, never a corpus-sized window). Exact integer
    counts, so coverage is engine-reproducible.
    """
    kmax = max(cutoffs)
    counts = (
        documents.select(F.explode(tokens(text_col)).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    total = counts.agg(F.sum("n").cast("bigint").alias("total_tokens"))
    head = counts.orderBy(F.col("n").desc(), F.col("term").asc()).limit(kmax)
    w = (
        Window.orderBy(F.col("n").desc(), F.col("term").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ranked = head.select(
        F.row_number()
        .over(Window.orderBy(F.col("n").desc(), F.col("term").asc()))
        .cast("bigint")
        .alias("cutoff"),
        F.sum("n").over(w).cast("bigint").alias("covered_tokens"),
    )
    return (
        ranked.filter(F.col("cutoff").isin(list(cutoffs)))
        .crossJoin(F.broadcast(total))
        .select(
            "cutoff",
            "covered_tokens",
            "total_tokens",
            F.round(F.col("covered_tokens") / F.col("total_tokens"), 6).alias(
                "coverage"
            ),
        )
    )


FUNNEL_RULES = ("too_short", "too_long", "word_len", "symbol", "stopword")


def filter_funnel(
    documents: DataFrame,
    text_col: str = "text",
) -> DataFrame:
    """First-fail waterfall over the Gopher rule battery: each document is
    attributed to the FIRST rule (in the fixed order ``FUNNEL_RULES``) it
    fails, giving the kill count per funnel stage and the surviving corpus
    after each stage — the attribution report that tells a curation team
    which rule to tune (a doc failing both length and symbol rules counts
    once, at the earlier stage; :func:`gopher_rules` reports overlapping
    per-rule totals instead).

    Scale: same shape as gopher_rules — one narrow projection computing all
    signals off one word array, one hash agg to the 6-label grain; the
    funnel assembly (cumulative kill, survivors) runs on ≤6 rows.
    """
    sym_lits = F.array(*[F.lit(s) for s in GOPHER_SYMBOLS])
    stop_lits = F.array(*[F.lit(w) for w in DEFAULT_STOPWORDS])
    lo, hi = GOPHER_MEAN_WORD_LEN
    m = documents.select(F.split(F.col(text_col), " ").alias("words")).select(
        F.size("words").alias("n_words"),
        (
            F.aggregate(
                F.col("words"), F.lit(0).cast("bigint"),
                lambda acc, x: acc + F.length(x),
            )
            / F.size("words")
        ).alias("mean_word_len"),
        (
            F.size(F.filter(F.col("words"), lambda x: F.array_contains(sym_lits, x)))
            / F.size("words")
        ).alias("symbol_frac"),
        F.size(
            F.filter(F.col("words"), lambda x: F.array_contains(stop_lits, x))
        ).alias("stopword_hits"),
    )
    first_fail = (
        F.when(F.col("n_words") < GOPHER_MIN_WORDS, 1)
        .when(F.col("n_words") > GOPHER_MAX_WORDS, 2)
        .when(
            (F.col("mean_word_len") < lo) | (F.col("mean_word_len") > hi), 3
        )
        .when(F.col("symbol_frac") > GOPHER_MAX_SYMBOL_FRAC, 4)
        .when(F.col("stopword_hits") < GOPHER_MIN_STOPWORD_HITS, 5)
        .otherwise(0)
    )
    killed = m.select(first_fail.alias("stage")).groupBy("stage").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_killed")
    )
    spark = documents.sparkSession
    stages = spark.createDataFrame(
        [(i + 1, r) for i, r in enumerate(FUNNEL_RULES)], ["stage", "rule"]
    )
    joined = stages.join(killed, "stage", "left").select(
        F.col("stage").cast("bigint").alias("stage"),
        "rule",
        F.coalesce(F.col("n_killed"), F.lit(0)).cast("bigint").alias("n_killed"),
    )
    total = m.agg(F.count(F.lit(1)).cast("bigint").alias("n_total"))
    w = Window.orderBy("stage").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        joined.crossJoin(F.broadcast(total))
        .select(
            "stage",
            "rule",
            "n_killed",
            (F.col("n_total") - F.sum("n_killed").over(w))
            .cast("bigint")
            .alias("n_remaining"),
            F.round(F.col("n_killed") / F.col("n_total"), 6).alias("kill_frac"),
        )
    )


def extremes_report(
    documents: DataFrame,
    k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Tail-document dashboard: the top-k documents per diagnostic metric
    (longest, most repetitive = lowest distinct-token ratio, lowest
    quality score) — the "show me the worst offenders" debugging probe a
    curation team runs after every pipeline change.

    Scale: each metric leg is a scan projection + TakeOrderedAndProject
    (partial per-partition top-k, k rows to the driver); the rank window
    then runs on k rows. Three column-pruned scans, no wide shuffle.
    """
    toks = tokens(text_col)
    n = F.size(toks)
    m = documents.select(
        F.col(id_col),
        n.cast("bigint").alias("n"),
        F.round(1.0 - F.size(F.array_distinct(toks)) / n, 6).alias("rep"),
        quality_score_col(text_col).alias("q"),
    )

    def leg(name: str, value: Column, *order: Column) -> DataFrame:
        top = m.orderBy(*order).limit(k)
        w = Window.orderBy(*order)
        return top.select(
            F.lit(name).alias("metric"),
            F.row_number().over(w).cast("bigint").alias("rank"),
            F.col(id_col).cast("bigint").alias(id_col),
            F.round(value.cast("double"), 6).alias("value"),
        )

    longest = leg("longest", F.col("n"), F.col("n").desc(), F.col(id_col).asc())
    repetitive = leg(
        "most_repetitive", F.col("rep"), F.col("rep").desc(), F.col(id_col).asc()
    )
    lowq = leg("lowest_quality", F.col("q"), F.col("q").asc(), F.col(id_col).asc())
    return longest.unionByName(repetitive).unionByName(lowq)


def nb_confusion(
    documents: DataFrame,
    label_col: str = "lang",
    vocab_hash: int = 4096,
    train_ppm: int = 800_000,
    hash_seed: str = "nb0",
    split_seed: str = "nbsplit",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Hashed-unigram multinomial Naive Bayes classifier, trained and
    evaluated inside one lazy plan — the fastText-style quality/domain
    classifier every curation pipeline keeps around (CCNet wiki-vs-crawl,
    DCLM's quality model). Returns the held-out confusion matrix at the
    (true label, predicted label) grain.

    Construction (all cross-engine-exact):

    * deterministic content-hash train/test split (``split_seed``), so the
      evaluation set is a pure function of the data;
    * features are unigrams hashed into ``vocab_hash`` buckets with the
      md5 family — the model is a BOUNDED (label x bucket) relation no
      matter the corpus size;
    * Laplace-smoothed log-probabilities are pre-scaled to integers
      (``round(ln(p) * 1e9)``) at the MODEL grain, so the per-document
      score is a bigint SUM — order-independent, immune to float
      summation nondeterminism across partitionings/engines;
    * argmax with a min-label tiebreak via a max-score semi-join (no
      engine-specific ``max_by`` struct-ordering semantics).

    Scale: the model and class tables are bounded broadcasts
    (vocab_hash x |labels| and |labels| rows); scoring is the token scan
    expanded x|labels| with a broadcast join, then two uniform doc-grain
    aggregations. No iteration, no driver data path — NB's closed-form
    training is one aggregation, which is why it (rather than SGD
    logistic regression) is the idiomatic Spark-first baseline classifier.
    """
    from esop_spark.operators.dedup import md5_hash32

    BUCKETS = 1_000_000
    split_b = F.pmod(
        md5_hash32(
            F.concat(F.lit(split_seed), F.lit(":"), F.col(id_col).cast("string"))
        ),
        F.lit(BUCKETS),
    )
    base = documents.select(
        F.col(id_col),
        F.col(label_col).alias("_label"),
        (split_b < train_ppm).alias("_is_train"),
        F.explode(tokens(text_col)).alias("_term"),
    ).withColumn(
        "_b",
        F.pmod(
            md5_hash32(F.concat(F.lit(hash_seed), F.lit(":"), F.col("_term"))),
            F.lit(vocab_hash),
        ),
    )
    train = base.filter(F.col("_is_train"))
    # class meta: token totals, doc counts, smoothing default, prior
    # Round 11 (guide §5): the label-grain class meta is consumed by the
    # doc total, the smoothing/prior meta, and the model join — three
    # corpus tokenize passes unpersisted.
    ctot = share_relation(
        train.groupBy("_label").agg(
            F.count(F.lit(1)).alias("_n_c"),
            F.countDistinct(id_col).alias("_docs_c"),
        )
    )
    dtot = ctot.agg(F.sum("_docs_c").alias("_docs_all"))
    cmeta = ctot.crossJoin(F.broadcast(dtot)).select(
        "_label",
        F.round(F.log(F.lit(1.0) / (F.col("_n_c") + vocab_hash)) * 1e9)
        .cast("bigint")
        .alias("_lp0"),
        F.round(F.log(F.col("_docs_c") / F.col("_docs_all")) * 1e9)
        .cast("bigint")
        .alias("_prior"),
    )
    model = (
        train.groupBy("_label", "_b")
        .agg(F.count(F.lit(1)).alias("_n_cb"))
        .join(ctot.select("_label", "_n_c"), "_label")
        .select(
            F.col("_label").alias("_cand"),
            "_b",
            F.round(
                F.log((F.col("_n_cb") + 1.0) / (F.col("_n_c") + vocab_hash)) * 1e9
            )
            .cast("bigint")
            .alias("_lp"),
        )
    )
    cand = cmeta.select(
        F.col("_label").alias("_cand"),
        F.col("_lp0"),
        F.col("_prior"),
    )
    test_tok = base.filter(~F.col("_is_train")).select(id_col, "_label", "_b")
    scored = (
        test_tok.crossJoin(F.broadcast(cand))
        .join(F.broadcast(model), ["_cand", "_b"], "left")
        .groupBy(id_col, "_label", "_cand")
        .agg(
            (
                F.first("_prior") + F.sum(F.coalesce(F.col("_lp"), F.col("_lp0")))
            ).alias("_score")
        )
    )
    best = scored.groupBy(id_col).agg(F.max("_score").alias("_ms"))
    pred = (
        scored.join(best, id_col)
        .filter(F.col("_score") == F.col("_ms"))
        .groupBy(id_col)
        .agg(
            F.first("_label").alias("_true"),
            F.min("_cand").alias("_pred"),
        )
    )
    return (
        pred.groupBy(
            F.col("_true").alias("label_true"), F.col("_pred").alias("label_pred")
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    )


def kn_bigram_logprob(
    documents: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document mean negative log-probability under an interpolated
    Kneser-Ney bigram LM — the real n-gram smoothing (KenLM's default)
    behind perplexity-based quality filters, one step past the add-k
    stand-in of :func:`bigram_logprob`:

        P(w2|w1) = (c12 − D)/c1 + (D·N1+(w1,·)/c1) · (N1+(·,w2)/N1+(··))

    with discount D = 0.75 (exactly representable in binary — the float
    arithmetic is ordered identically in both engines). Every scored
    bigram is observed in the corpus model (self-scoring), so c12 ≥ 1 and
    the max(·,0) clause never binds.

    Cross-engine exactness: log-probs are integer-scaled (round(ln·1e9))
    at the BIGRAM-TYPE grain, so the per-doc score is a bigint sum —
    order-independent — and the mean divides at nano precision with
    integer half-up rounding (no float .5e-7 rounding divergence).

    Scale: the model is three uniform-key aggregations over the
    bigram-type relation plus joins on w1/w2 (vocab-fanout grain); the
    global N1+(··) is a 1-row broadcast, never an OVER () window. Scoring
    joins doc bigrams to the model on (w1, w2) — corpus-token shuffle,
    the documented cost center shared with q61/q66 (head/tail split
    applies the same way if needed)."""
    D = 0.75
    words = documents.select(
        F.col(id_col), F.split(F.col(text_col), " ").alias("ws")
    ).filter(F.size("ws") >= 2)
    bg = words.select(
        F.col(id_col),
        F.explode(F.expr("sequence(1, size(ws) - 1)")).alias("i"),
        F.col("ws"),
    ).select(
        id_col,
        F.element_at("ws", F.col("i")).alias("w1"),
        F.element_at("ws", F.col("i") + 1).alias("w2"),
    )
    types = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    left = types.groupBy("w1").agg(
        F.sum("c12").alias("c1"), F.count(F.lit(1)).alias("n1w1")
    )
    right = types.groupBy("w2").agg(F.count(F.lit(1)).alias("ncont"))
    nbig = types.agg(F.count(F.lit(1)).alias("nbig"))
    p = (
        (F.col("c12") - D) / F.col("c1")
        + ((D * F.col("n1w1")) / F.col("c1")) * (F.col("ncont") / F.col("nbig"))
    )
    model = (
        types.join(left, "w1")
        .join(right, "w2")
        .crossJoin(F.broadcast(nbig))
        .select(
            "w1", "w2", F.round(F.log(p) * 1e9).cast("bigint").alias("lp9")
        )
    )
    return (
        bg.join(model, ["w1", "w2"])
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
            F.sum("lp9").alias("_s"),
        )
        .select(
            id_col,
            "n_bigrams",
            (
                F.expr("(2 * (-_s) + n_bigrams) div (2 * n_bigrams)") / F.lit(1e9)
            ).alias("mean_nll"),
        )
    )


def quantile_normalize_scores(
    documents: DataFrame,
    source_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Cross-source quality-score calibration: for every (source, raw
    score) cell, the mid-rank quantile of that score WITHIN its source and
    within the global corpus — the lookup table that makes "keep the top
    30% of each source" mean the same thing everywhere (raw thresholds
    don't transfer: a 60 from a clean source is a different quantile than
    a 60 from a noisy one).

    All-integer mid-rank quantiles on the BOUNDED score grain
    (sources × ≤101 rows): q_ppm = (2·below + at) · 1e6 div (2·n) — the
    q72 CDF trick with a per-source partition. Windows run on the tiny
    grain only; one corpus-wide aggregation total."""
    scored = documents.select(
        F.col(source_col).alias("source"),
        quality_score_col(text_col).alias("score"),
    )
    # Round 11 A/B note: persisting the (source × ≤101 score) cell grid
    # for the two quantile legs was MEASURED slightly slower twice
    # (0.63→0.77, 1.02→1.32 s min-of-5) and reverted — the second corpus
    # scan is cheaper than the materialize+read round trip here.
    cells = scored.groupBy("source", "score").agg(
        F.count(F.lit(1)).alias("n_at")
    )
    w_src = (
        Window.partitionBy("source")
        .orderBy("score")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    per_src = cells.withColumn(
        "below", F.coalesce(F.sum("n_at").over(w_src), F.lit(0))
    ).withColumn("n_src", F.sum("n_at").over(Window.partitionBy("source")))
    glob = (
        cells.groupBy("score")
        .agg(F.sum("n_at").alias("g_at"))
        .withColumn(
            "g_below",
            F.coalesce(
                F.sum("g_at").over(
                    Window.orderBy("score").rowsBetween(
                        Window.unboundedPreceding, -1
                    )
                ),
                F.lit(0),
            ),
        )
        .withColumn("g_n", F.sum("g_at").over(Window.partitionBy()))
    )
    return (
        per_src.join(glob.select("score", "g_below", "g_at", "g_n"), "score")
        .select(
            "source",
            F.col("score").cast("bigint").alias("score"),
            F.col("n_at").cast("bigint").alias("n_docs"),
            F.expr("((2 * below + n_at) * 1000000) div (2 * n_src)")
            .cast("bigint")
            .alias("src_quantile_ppm"),
            F.expr("((2 * g_below + g_at) * 1000000) div (2 * g_n)")
            .cast("bigint")
            .alias("global_quantile_ppm"),
        )
    )


def surprisal_spans(
    documents: DataFrame,
    window: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Junk-span detector: per document, the ``window``-token span with the
    highest mean unigram surprisal (−ln corpus frequency) — where
    gibberish, mojibake, or pasted noise lives inside an otherwise fine
    document. Pipelines use the span report to REPAIR documents (cut the
    span) instead of dropping whole docs that fail a global perplexity
    gate.

    Determinism: surprisal is integer-nano-scaled at the VOCAB grain, so
    window sums are bigint adds; the argmax span breaks ties toward the
    earliest position. Only full windows compete (docs shorter than
    ``window`` drop — their global score is q61's job).

    Scale: one vocab-grain frequency agg; the scoring join is the q61
    corpus-token join (same head/tail escape applies); the sliding-window
    sum partitions per document ordered by position — bounded by document
    length, the q74/q78 window argument."""
    toks = documents.select(
        F.col(id_col), F.split(F.col(text_col), " ").alias("ws")
    ).filter(F.size("ws") >= window)
    pos = toks.select(
        F.col(id_col),
        F.size("ws").alias("n_tokens"),
        F.explode(F.expr("sequence(1, size(ws))")).alias("pos"),
        F.col("ws"),
    ).select(
        id_col, "n_tokens", "pos", F.element_at("ws", F.col("pos")).alias("term")
    )
    tf = pos.groupBy("term").agg(F.count(F.lit(1)).alias("n"))
    total = tf.agg(F.sum("n").alias("total"))
    model = tf.crossJoin(F.broadcast(total)).select(
        "term",
        F.round(-F.log(F.col("n") / F.col("total")) * 1e9)
        .cast("bigint")
        .alias("s9"),
    )
    w_span = (
        Window.partitionBy(id_col)
        .orderBy("pos")
        .rowsBetween(0, window - 1)
    )
    spans = (
        pos.join(model, "term")
        .withColumn("span9", F.sum("s9").over(w_span))
        .filter(F.col("pos") <= F.col("n_tokens") - window + 1)
    )
    best = spans.groupBy(id_col).agg(
        F.first("n_tokens").alias("n_tokens"),
        F.max(F.struct(F.col("span9"), (-F.col("pos")).alias("np"))).alias("b"),
    )
    return best.select(
        F.col(id_col).cast("bigint").alias(id_col),
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        (-F.col("b.np")).cast("bigint").alias("worst_start"),
        (F.col("b.span9") / F.lit(float(window) * 1e9)).alias("worst_mean_nll"),
    )


def blocklist_scan(
    documents: DataFrame,
    terms: tuple[str, ...],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Lexicon gate (bad-words / compliance blocklist): per document, total
    and distinct blocklist-term hits, the earliest hit position, and the
    flag — the oldest curation filter there is, still first in every
    production pipeline because it is a pure scan.

    The lexicon compiles into the projection as an array literal
    (array_intersect / array_position are JVM HOFs) — zero shuffles, zero
    joins; at 100 TB the blocklist rides the closure into every task the
    same way a broadcast would, without being one. For lexicons too large
    for a literal (>10^4 terms), the bloom-prefilter pattern (q81) is the
    scale path."""
    lit_terms = F.array(*[F.lit(t) for t in sorted(terms)])
    toks = tokens(text_col)
    hits = F.filter(toks, lambda w: F.array_contains(lit_terms, w))
    first_pos = F.array_min(
        F.transform(
            lit_terms, lambda t: F.nullif(F.array_position(toks, t), F.lit(0))
        )
    )
    return documents.select(
        F.col(id_col),
        F.size(hits).cast("bigint").alias("n_hits"),
        F.size(F.array_distinct(hits)).cast("bigint").alias("n_distinct_terms"),
        F.coalesce(first_pos, F.lit(0)).cast("bigint").alias("first_hit_pos"),
        (F.size(hits) > 0).alias("flagged"),
    )


def readability_report(
    documents: DataFrame,
    source_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Per-source Flesch reading-ease census: words/sentence, syllable
    proxy (vowel runs), and the FRE score in exact integer millis —
    `206.835 − 1.015·(words/sent) − 84.6·(syll/words)` with every ratio an
    integer division.  Bands: easy ≥ 90, standard 60–90, hard < 60.

    Scan-shaped: the score is a pure projection (split + regexp count);
    one aggregation to the source grain.  The syllable proxy is the
    standard vowel-group count — deterministic and tokenizer-free.
    """
    words = F.size(F.split(F.col(text_col), " "))
    sents = F.greatest(
        F.lit(1), F.size(F.split(F.col(text_col), "[.!?]")) - 1
    )
    syll = F.greatest(
        F.lit(1),
        F.size(F.expr(f"regexp_extract_all({text_col}, '[aeiouAEIOU]+', 0)")),
    )
    scored = documents.select(
        F.col(source_col).alias("source"),
        words.alias("w"),
        sents.alias("s"),
        syll.alias("y"),
    ).select(
        "source",
        (
            F.lit(206835)
            - F.expr("(1015 * w) div s")
            - F.expr("(84600 * y) div w")
        ).alias("fre_milli"),
    )
    return scored.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.expr("sum(fre_milli) div count(1)")
        .cast("bigint")
        .alias("mean_fre_milli"),
        F.sum((F.col("fre_milli") >= 90000).cast("bigint"))
        .cast("bigint")
        .alias("n_easy"),
        F.sum(
            (
                (F.col("fre_milli") >= 60000) & (F.col("fre_milli") < 90000)
            ).cast("bigint")
        )
        .cast("bigint")
        .alias("n_standard"),
        F.sum((F.col("fre_milli") < 60000).cast("bigint"))
        .cast("bigint")
        .alias("n_hard"),
    )


def winsorize_scores(
    documents: DataFrame,
    lo_ppm: int = 50_000,
    hi_ppm: int = 950_000,
    source_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Per-source winsorization audit: clamp quality scores at the source's
    p05/p95 and report the mean shift — the outlier-robust calibration step
    before score-weighted sampling.

    Percentile bounds use the q158 histogram rule on the BOUNDED score
    grain (≤101 cells per source): the bound is the smallest score whose
    cumulative count reaches ceil(n·q) — all-integer, partition-invariant.
    One doc-grain aggregation to cells; windows only on the tiny grain.
    """
    # Round 11 (guide §5): scored (narrow: source, int score) feeds both
    # the bounds derivation and the clamp pass — persist so the
    # quality-score expression runs once per doc, not twice.
    scored = share_relation(
        documents.select(
            F.col(source_col).alias("source"),
            quality_score_col(text_col).alias("score"),
        )
    )
    cells = scored.groupBy("source", "score").agg(
        F.count(F.lit(1)).alias("n_at")
    )
    w_cum = (
        Window.partitionBy("source")
        .orderBy("score")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = cells.withColumn("cum", F.sum("n_at").over(w_cum)).withColumn(
        "n_src", F.sum("n_at").over(Window.partitionBy("source"))
    )
    bounds = cum.groupBy("source").agg(
        F.min(
            F.when(
                F.col("cum")
                >= F.expr(f"(n_src * {lo_ppm} + 999999) div 1000000"),
                F.col("score"),
            )
        ).alias("lo_score"),
        F.min(
            F.when(
                F.col("cum")
                >= F.expr(f"(n_src * {hi_ppm} + 999999) div 1000000"),
                F.col("score"),
            )
        ).alias("hi_score"),
    )
    clamped = scored.join(F.broadcast(bounds), "source").select(
        "source",
        "score",
        F.greatest("lo_score", F.least("hi_score", F.col("score"))).alias(
            "wscore"
        ),
        "lo_score",
        "hi_score",
    )
    return clamped.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.first("lo_score").cast("bigint").alias("lo_score"),
        F.first("hi_score").cast("bigint").alias("hi_score"),
        F.expr("(sum(score) * 1000) div count(1)")
        .cast("bigint")
        .alias("mean_before_milli"),
        F.expr("(sum(wscore) * 1000) div count(1)")
        .cast("bigint")
        .alias("mean_after_milli"),
        F.sum((F.col("score") != F.col("wscore")).cast("bigint"))
        .cast("bigint")
        .alias("n_clamped"),
    )


def diversity_indices(
    documents: DataFrame,
    source_col: str = "source",
    class_col: str = "lang",
) -> DataFrame:
    """Per-source class-diversity indices over ``class_col`` (language by
    default): richness (distinct classes), Gini–Simpson 1 − Σ(cᵢ/n)² and
    Berger–Parker max(cᵢ)/n, both in exact integer ppm — the corpus-mix
    health metrics next to q77's KL drift.

    Two tiny aggregations: doc grain → (source, class) cells → source
    grain.  No windows, no floats."""
    cells = documents.groupBy(
        F.col(source_col).alias("source"), F.col(class_col).alias("cls")
    ).agg(F.count(F.lit(1)).alias("c"))
    return cells.groupBy("source").agg(
        F.sum("c").cast("bigint").alias("n_docs"),
        F.count(F.lit(1)).cast("bigint").alias("richness"),
        F.expr(
            "1000000 - (sum(c * c) * 1000000) div (sum(c) * sum(c))"
        )
        .cast("bigint")
        .alias("gini_simpson_ppm"),
        F.expr("(max(c) * 1000000) div sum(c)")
        .cast("bigint")
        .alias("berger_parker_ppm"),
    )


def pareto_frontier(
    documents: DataFrame,
    text_col: str = "text",
    len_col: str = "n_chars",
) -> DataFrame:
    """Quality-vs-length Pareto frontier at the score grain: for each
    quality score, the maximum document length, kept only where it strictly
    exceeds every higher score's maximum — the 2-D skyline of "no doc is
    both higher-quality and longer".

    Scale-safe skyline: the running max runs over the BOUNDED score grain
    (≤101 rows ordered by score desc), never over documents — the q72
    bounded-grain trick applied to dominance.  Returns
    ``(score, frontier_len, n_docs_at_point)``."""
    scored = documents.select(
        quality_score_col(text_col).alias("score"),
        F.col(len_col).alias("len"),
    )
    cells = scored.groupBy("score").agg(F.max("len").alias("max_len"))
    w_above = (
        Window.orderBy(F.desc("score"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    frontier = (
        cells.withColumn(
            "best_above", F.coalesce(F.max("max_len").over(w_above), F.lit(-1))
        )
        .filter(F.col("max_len") > F.col("best_above"))
        .select("score", F.col("max_len").alias("frontier_len"))
    )
    counts = scored.groupBy("score", "len").agg(
        F.count(F.lit(1)).alias("n_docs_at_point")
    )
    return (
        frontier.join(
            counts,
            (frontier["score"] == counts["score"])
            & (frontier["frontier_len"] == counts["len"]),
        )
        .select(
            frontier["score"].cast("bigint").alias("score"),
            F.col("frontier_len").cast("bigint").alias("frontier_len"),
            F.col("n_docs_at_point").cast("bigint").alias("n_docs_at_point"),
        )
    )


def normalization_audit(
    documents: DataFrame,
    source_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Text-normalization impact audit: lowercase + whitespace-collapse +
    trim, reporting per source how many documents change and how many
    characters normalization removes — the pre-dedup canonicalization
    census (exact dedup keyed on raw text under-merges when sources differ
    only in casing/spacing).

    Pure scan projection (lower/regexp_replace/trim) + one source-grain
    aggregation; zero joins."""
    norm = F.trim(
        F.regexp_replace(F.lower(F.col(text_col)), "  +", " ")
    )
    audited = documents.select(
        F.col(source_col).alias("source"),
        (norm != F.col(text_col)).alias("changed"),
        (F.length(F.col(text_col)) - F.length(norm)).alias("delta"),
    )
    return audited.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(F.col("changed").cast("bigint"))
        .cast("bigint")
        .alias("n_changed"),
        F.expr(
            "(sum(cast(changed as bigint)) * 1000000) div count(1)"
        )
        .cast("bigint")
        .alias("changed_ppm"),
        F.sum("delta").cast("bigint").alias("chars_removed"),
    )


def doc_keywords(
    documents: DataFrame,
    top_k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document keyword extraction: the ``top_k`` TF-IDF terms of every
    document — the q52 corpus-level view pushed down to the doc grain (the
    per-doc metadata a retrieval index or dataset card wants).

    Exactness: idf is integer-nano ``round(ln(N/df)·1e9)`` computed once at
    the vocab grain (the q154 surprisal convention); scores are
    ``tf · idf_nano`` integer products, ranked with a term tiebreak.

    Scale: one token aggregation to the (doc, term) grain, a vocab-grain df
    relation joined back on the term key (broadcast at test SF; a uniform
    SMJ at corpus scale), and the rank window partitions BY DOCUMENT —
    bounded by per-doc vocabulary, never a corpus-wide sort."""
    toks = documents.select(
        F.col(id_col).alias("doc_id"),
        F.explode(tokens(text_col)).alias("term"),
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    n_docs = documents.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs")
    )
    df_rel = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    idf = df_rel.crossJoin(F.broadcast(n_docs)).select(
        "term",
        F.round(F.log(F.col("n_docs") / F.col("df")) * 1e9)
        .cast("bigint")
        .alias("idf_nano"),
    )
    scored = tf.join(idf, "term").select(
        "doc_id",
        "term",
        (F.col("tf") * F.col("idf_nano")).alias("score_nano"),
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("score_nano"), F.asc("term")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= top_k)
        .select(
            "doc_id",
            "rank",
            "term",
            F.col("score_nano").cast("bigint").alias("score_nano"),
        )
    )


def chi2_independence(
    documents: DataFrame,
    source_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Chi-square test of independence between source and quality band
    (low < 34 ≤ mid < 67 ≤ high): is quality distributed the same across
    sources, or does some source drag the corpus?

    Exact integer chi²·1000 via the cross-multiplied identity
    (o − rc/N)²/(rc/N) = (N·o − r·c)² / (N·r·c), summed per cell — missing
    cells contribute r·c/N through an explicit dense (source × band) grid.
    Products run in DECIMAL(38,0) (N·o at 10^12 rows overflows int64).
    One doc-grain scan; everything after lives on the |sources|×3 grid."""
    banded = documents.select(
        F.col(source_col).alias("source"),
        F.when(quality_score_col(text_col) < 34, "low")
        .when(quality_score_col(text_col) < 67, "mid")
        .otherwise("high")
        .alias("band"),
    )
    cells = banded.groupBy("source", "band").agg(
        F.count(F.lit(1)).alias("o")
    )
    grid = (
        cells.select("source")
        .distinct()
        .crossJoin(
            cells.sparkSession.createDataFrame(
                [("low",), ("mid",), ("high",)], ["band"]
            )
        )
    )
    dense = grid.join(cells, ["source", "band"], "left").select(
        "source", "band", F.coalesce("o", F.lit(0)).alias("o")
    )
    w_all = Window.partitionBy()
    w_r = Window.partitionBy("source")
    w_c = Window.partitionBy("band")
    d38 = "decimal(38,0)"
    g = (
        dense.withColumn("n", F.sum("o").over(w_all))
        .withColumn("r", F.sum("o").over(w_r))
        .withColumn("c", F.sum("o").over(w_c))
        .withColumn(
            "cell_milli",
            # an empty row/column (r or c = 0) forces o = 0 and contributes
            # nothing — guard the division rather than divide by zero
            F.expr(
                f"CASE WHEN r = 0 OR c = 0 THEN 0 ELSE "
                f"(CAST(n AS {d38}) * o - CAST(r AS {d38}) * c)"
                f" * (CAST(n AS {d38}) * o - CAST(r AS {d38}) * c)"
                f" * 1000 div (CAST(n AS {d38}) * r * c) END"
            ).cast("bigint"),
        )
    )
    return g.agg(
        F.sum("cell_milli").cast("bigint").alias("chi2_milli"),
        (
            (F.countDistinct("source") - 1) * (F.countDistinct("band") - 1)
        )
        .cast("bigint")
        .alias("dof"),
        F.first("n").cast("bigint").alias("n_rows"),
    )


def cohen_kappa(
    documents: DataFrame,
    gold_col: str = "lang",
    text_col: str = "text",
) -> DataFrame:
    """Cohen's kappa between the marker-token language predictor and the
    gold label: chance-corrected agreement in exact integer ppm —
    κ = (pₒ − pₑ)/(1 − pₑ) with pₒ, pₑ from the confusion matrix
    marginals.  The classifier-eval metric q102's confusion matrix stops
    short of.

    All integer: κ_ppm = (N·Σ_agree − Σ_c r_c·c_c)·1e6 div (N² − Σ_c r_c·c_c)
    (the cross-multiplied form — no intermediate fractions).  One
    doc-grain scan to the |langs|² confusion grain; DECIMAL(38,0) products
    for the N² term."""
    pred, _ = lang_pred_cols(text_col)
    conf = documents.select(
        F.col(gold_col).alias("gold"), pred.alias("pred")
    ).groupBy("gold", "pred").agg(F.count(F.lit(1)).alias("c"))
    d38 = "decimal(38,0)"
    # pe sums r·k over EVERY class with either marginal non-zero — a class
    # can have both marginals > 0 with no diagonal cell, so the marginals
    # are computed separately and full-outer-merged on the class label
    r_rel = conf.groupBy(F.col("gold").alias("cls")).agg(
        F.sum("c").alias("r")
    )
    k_rel = conf.groupBy(F.col("pred").alias("cls")).agg(
        F.sum("c").alias("kk")
    )
    pe = r_rel.join(k_rel, "cls", "full_outer").agg(
        F.sum(
            F.expr(
                f"CAST(coalesce(r, 0) AS {d38}) * coalesce(kk, 0)"
            )
        ).alias("_pe_num")
    )
    totals = conf.agg(
        F.sum("c").cast("bigint").alias("n_docs"),
        F.sum(F.when(F.col("gold") == F.col("pred"), F.col("c")).otherwise(0))
        .cast("bigint")
        .alias("n_agree"),
    )
    return totals.crossJoin(F.broadcast(pe)).select(
        "n_docs",
        "n_agree",
        F.expr(
            f"CASE WHEN CAST(n_docs AS {d38}) * n_docs - _pe_num = 0 THEN 0"
            f" ELSE ((CAST(n_docs AS {d38}) * n_agree - _pe_num) * 1000000)"
            f" div (CAST(n_docs AS {d38}) * n_docs - _pe_num) END"
        )
        .cast("bigint")
        .alias("kappa_ppm"),
        F.expr("(n_agree * 1000000) div n_docs")
        .cast("bigint")
        .alias("agreement_ppm"),
    )


def ctx_length_sweep(
    documents: DataFrame,
    contexts: tuple[int, ...] = (64, 128, 256, 512),
    text_col: str = "text",
) -> DataFrame:
    """Context-length planning sweep: for each candidate context length,
    the corpus-wide packed-token accounting — kept tokens (truncated at
    ctx), truncation loss, padding waste if every doc occupied one
    ctx-sized slot, and the kept fraction — the one-table answer to
    "what sequence length should this corpus train at".

    One scan with a ×|contexts| literal explode BEFORE the map-side
    combine (the q150 thresholds trick): shuffle volume is |contexts|
    groups, the explode factor is a compile-time constant."""
    n = F.size(F.split(F.col(text_col), " ")).cast("bigint")
    ctx_arr = F.array(*[F.lit(int(c)) for c in contexts])
    per = documents.select(
        n.alias("n_tok"), F.explode(ctx_arr).alias("ctx")
    ).select(
        "ctx",
        "n_tok",
        F.least(F.col("n_tok"), F.col("ctx")).alias("kept"),
    )
    return (
        per.groupBy("ctx")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_tok").cast("bigint").alias("total_tokens"),
            F.sum("kept").cast("bigint").alias("kept_tokens"),
            F.sum(F.col("n_tok") - F.col("kept"))
            .cast("bigint")
            .alias("truncated_tokens"),
            F.sum(F.col("ctx") - F.col("kept"))
            .cast("bigint")
            .alias("padding_tokens"),
        )
        .select(
            F.col("ctx").cast("bigint").alias("ctx"),
            "n_docs",
            "total_tokens",
            "kept_tokens",
            "truncated_tokens",
            "padding_tokens",
            F.expr("(kept_tokens * 1000000) div total_tokens")
            .cast("bigint")
            .alias("kept_ppm"),
        )
    )


def vocab_tail_report(
    documents: DataFrame,
    head_k: int = 10,
    source_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Vocabulary tail health per source: hapax-legomena share of the
    vocabulary (typo/noise indicator), and the token-mass share of the
    top-``head_k`` tokens (template/boilerplate indicator) — the two ends
    of the Zipf curve as release-gate numbers (q88 fits the middle).

    Scale-safe head mass: ranking the per-source vocabulary through a
    window would sort a possibly-billion-row vocab in one task, so the
    head is computed on the COUNT-LEVEL grain instead — cumulative vocab
    entries/mass per distinct count value (descending), then
    ``head_mass = cum_mass − (cum_n − k)·c*`` at the first level where
    ``cum_n ≥ k``.  Top-k BY MASS is tie-agnostic (every tied token at the
    boundary level contributes the same count), so this is exact."""
    tok = documents.select(
        F.col(source_col).alias("source"),
        F.explode(tokens(text_col)).alias("t"),
    )
    vocab = tok.groupBy("source", "t").agg(F.count(F.lit(1)).alias("c"))
    lvl = vocab.groupBy("source", "c").agg(
        F.count(F.lit(1)).alias("n_at")
    )
    w_cum = (
        Window.partitionBy("source")
        .orderBy(F.desc("c"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = lvl.withColumn("cum_n", F.sum("n_at").over(w_cum)).withColumn(
        "cum_mass", F.sum(F.col("n_at") * F.col("c")).over(w_cum)
    )
    head = (
        cum.filter(F.col("cum_n") >= head_k)
        .groupBy("source")
        .agg(F.min(F.struct("cum_n", "c", "cum_mass")).alias("b"))
        .select(
            "source",
            (
                F.col("b.cum_mass")
                - (F.col("b.cum_n") - head_k) * F.col("b.c")
            ).alias("head_mass"),
        )
    )
    totals = vocab.groupBy("source").agg(
        F.count(F.lit(1)).alias("vocab_size"),
        F.sum("c").alias("n_tokens"),
        F.sum((F.col("c") == 1).cast("bigint")).alias("n_hapax"),
    )
    return (
        totals.join(head, "source", "left")
        .select(
            "source",
            F.col("vocab_size").cast("bigint").alias("vocab_size"),
            F.col("n_tokens").cast("bigint").alias("n_tokens"),
            F.col("n_hapax").cast("bigint").alias("n_hapax"),
            F.expr("(n_hapax * 1000000) div vocab_size")
            .cast("bigint")
            .alias("hapax_ppm"),
            F.expr(
                "(coalesce(head_mass, n_tokens) * 1000000) div n_tokens"
            )
            .cast("bigint")
            .alias("head_mass_ppm"),
        )
    )


def _gopher_pass_col(text_col: str = "text") -> Column:
    """Gopher pass/fail as ONE scan-stage Column (the q67 battery fused
    into a single expression over one materialized word array) — lets
    downstream audits treat "passes all structural rules" as a binary
    outcome without a join back to gopher_rules' aggregated report."""
    words = F.split(F.col(text_col), " ")
    sym_lits = F.array(*[F.lit(s) for s in GOPHER_SYMBOLS])
    stop_lits = F.array(*[F.lit(w) for w in DEFAULT_STOPWORDS])
    lo, hi = GOPHER_MEAN_WORD_LEN
    n = F.size(words)
    mean_wl = (
        F.aggregate(words, F.lit(0).cast("bigint"), lambda a, x: a + F.length(x))
        / n
    )
    sym_frac = F.size(F.filter(words, lambda x: F.array_contains(sym_lits, x))) / n
    stop_hits = F.size(F.filter(words, lambda x: F.array_contains(stop_lits, x)))
    return (
        (n >= GOPHER_MIN_WORDS)
        & (n <= GOPHER_MAX_WORDS)
        & (mean_wl >= lo)
        & (mean_wl <= hi)
        & (sym_frac <= GOPHER_MAX_SYMBOL_FRAC)
        & (stop_hits >= GOPHER_MIN_STOPWORD_HITS)
    ).cast("bigint")


def ece_calibration(
    documents: DataFrame,
    text_col: str = "text",
    n_bins: int = 10,
) -> DataFrame:
    """Expected Calibration Error of the quality score read as a confidence
    that a document passes the Gopher structural battery — the reliability
    diagram for a learned-or-heuristic quality filter before its threshold
    is trusted at corpus scale.

    Exactness: with conf = score/100, the per-bin weighted gap
    (n_b/N)·|acc_b − conf_b| telescopes to |100·pass_b − Σscore_b| / (100·N)
    — an exact INTEGER numerator per bin, so ECE is a single float division
    at the end. One scan projection (score + pass flag fused), one agg to
    the ≤``n_bins`` grain, and the ECE total is a window over that bounded
    grain. Scan-shaped at any corpus size.

    Ref parity: quality scoring per instaclustr/esop has no analog — this
    is the LLM-pipeline extension surface (SURVEY.md §6).
    """
    score = quality_score_col(text_col)
    flagged = documents.select(
        F.least(
            F.floor(score * n_bins / 100).cast("bigint"), F.lit(n_bins - 1)
        ).alias("bin"),
        score.alias("score"),
        _gopher_pass_col(text_col).alias("pass_flag"),
    )
    per_bin = flagged.groupBy("bin").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("pass_flag").cast("bigint").alias("pass_docs"),
        F.sum("score").cast("bigint").alias("sum_score"),
    )
    gap_units = F.abs(F.lit(100) * F.col("pass_docs") - F.col("sum_score"))
    w = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return per_bin.select(
        "bin",
        "n_docs",
        "pass_docs",
        F.round(F.col("sum_score") / (F.lit(100) * F.col("n_docs")), 6).alias(
            "mean_conf"
        ),
        F.round(F.col("pass_docs") / F.col("n_docs"), 6).alias("pass_rate"),
        gap_units.cast("bigint").alias("gap_units"),
        F.round(
            F.sum(gap_units).over(w)
            / (F.lit(100.0) * F.sum("n_docs").over(w)),
            6,
        ).alias("ece"),
    )


def ks_score_drift(
    documents: DataFrame,
    group_col: Column | None = None,
    text_col: str = "text",
) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov distance between the quality-score
    distributions of two document populations (default: lang='en' vs the
    rest) — the distribution-drift gate run before mixing a new crawl
    slice into an established corpus.

    The score lives on a bounded 0–100 grain, so both empirical CDFs and
    their max gap are computed on ≤101 rows: one scan projection, one agg
    to the (score) grain, cumulative windows over that bounded grain only.
    D is kept as the exact integer |cumA·nB − cumB·nA| until the final
    division; the argmax score is tie-broken to the smallest score. Output
    one row: (n_a, n_b, d_stat, at_score).
    """
    grp = group_col if group_col is not None else (F.col("lang") == "en")
    score = quality_score_col(text_col)
    counts = documents.select(
        score.alias("score"), grp.cast("bigint").alias("in_a")
    ).groupBy("score").agg(
        F.sum("in_a").cast("bigint").alias("c_a"),
        F.sum(F.lit(1) - F.col("in_a")).cast("bigint").alias("c_b"),
    )
    w = Window.orderBy("score").rowsBetween(Window.unboundedPreceding, 0)
    tot = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = counts.select(
        "score",
        F.sum("c_a").over(w).alias("cum_a"),
        F.sum("c_b").over(w).alias("cum_b"),
        F.sum("c_a").over(tot).alias("n_a"),
        F.sum("c_b").over(tot).alias("n_b"),
    ).select(
        "score",
        "n_a",
        "n_b",
        F.abs(
            F.col("cum_a") * F.col("n_b") - F.col("cum_b") * F.col("n_a")
        ).alias("d_num"),
    )
    return (
        cum.orderBy(F.col("d_num").desc(), F.col("score").asc())
        .limit(1)
        .select(
            F.col("n_a").cast("bigint").alias("n_a"),
            F.col("n_b").cast("bigint").alias("n_b"),
            F.round(F.col("d_num") / (F.col("n_a") * F.col("n_b")), 6).alias(
                "d_stat"
            ),
            F.col("score").cast("bigint").alias("at_score"),
        )
    )


def doremi_weights(
    documents: DataFrame,
    eta: float = 1.0,
    text_col: str = "text",
    source_col: str = "source",
) -> DataFrame:
    """DoReMi-style mixture reweighting: each source's excess unigram-LM
    loss over the corpus mean, exponentiated into a normalized sampling
    weight — sources the reference model finds "hard" (high NLL) get
    upweighted for the next training mix.

    The per-term negative log-probability is INTEGER-SCALED (nano-nats) at
    the vocabulary grain, so every per-source sum is an exact bigint and
    the two engines cannot drift; floats appear only in the final
    exp/normalize on the |sources| grain. Scale: one token agg to the
    vocab grain, one uniform-key count join back (the q61 plan), one agg
    to |sources|, windows on |sources| rows.
    """
    tok = documents.select(
        F.col(source_col).alias("source"),
        F.explode(tokens(text_col)).alias("term"),
    )
    tf = tok.groupBy("term").agg(F.count(F.lit(1)).alias("n"))
    total = tf.agg(F.sum("n").alias("total"))
    term_nll = tf.crossJoin(F.broadcast(total)).select(
        "term",
        F.round(-F.log(F.col("n") / F.col("total")) * 1e9)
        .cast("bigint")
        .alias("nll9"),
    )
    per_source = (
        tok.join(term_nll, "term")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            F.sum("nll9").cast("bigint").alias("sum_nll9"),
        )
    )
    tot = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    scored = per_source.select(
        "source",
        "n_tokens",
        (F.col("sum_nll9") / F.col("n_tokens") / 1e9).alias("mean_nll"),
        (
            (F.sum("sum_nll9").over(tot) / F.sum("n_tokens").over(tot))
            / 1e9
        ).alias("corpus_nll"),
    ).select(
        "source",
        "n_tokens",
        F.round("mean_nll", 6).alias("mean_nll"),
        F.round(F.col("mean_nll") - F.col("corpus_nll"), 6).alias("excess"),
        F.exp(F.lit(float(eta)) * (F.col("mean_nll") - F.col("corpus_nll")))
        .alias("w_raw"),
    )
    return scored.select(
        "source",
        "n_tokens",
        "mean_nll",
        "excess",
        F.round(F.col("w_raw") / F.sum("w_raw").over(tot), 6).alias("weight"),
    )


def term_burstiness(
    documents: DataFrame,
    k: int = 25,
    min_df: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Church–Gale term burstiness: per term the variance-to-mean ratio of
    its per-document counts — terms that "burst" (concentrate in few
    documents: names, boilerplate markers) versus spreading evenly (true
    function words). A high-VMR head is the watchlist for template
    contamination that document-level dedup misses.

    Two-level agg — (term, doc) counts, then per-term exact integer
    moments over ALL documents (zeros included via the closed form:
    Σx², Σx over docs with the term, N total docs) — followed by one
    TakeOrderedAndProject head. VMR = (N·Σx² − (Σx)²) / (N·Σx) stays an
    exact-integer ratio until the final division."""
    per_doc = documents.select(
        F.col(id_col), F.explode(tokens(text_col)).alias("term")
    ).groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("x"))
    n_docs = documents.agg(
        F.countDistinct(F.col(id_col)).alias("n_docs")
    )
    stats = per_doc.groupBy("term").agg(
        F.count(F.lit(1)).cast("bigint").alias("df"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sx2"),
    )
    return (
        stats.filter(F.col("df") >= min_df)
        .crossJoin(F.broadcast(n_docs))
        .select(
            "term",
            "df",
            "sx",
            F.round(
                (F.col("n_docs") * F.col("sx2") - F.col("sx") * F.col("sx"))
                / (F.col("n_docs") * F.col("sx")),
                6,
            ).alias("vmr"),
        )
        .orderBy(F.col("vmr").desc(), F.col("term").asc())
        .limit(k)
    )


def hill_tail_index(
    documents: DataFrame,
    k: int = 200,
    value_col: str = "n_chars",
    id_col: str = "doc_id",
) -> DataFrame:
    """Hill estimator of the document-length tail exponent: over the k
    largest lengths, α̂ = k / Σ ln(x_i / x_{k+1}) — the heavy-tail
    check that decides whether max-length truncation rules actually bound
    shard sizes, or whether a Pareto tail will keep producing outliers.

    One column-pruned scan ending in a TakeOrderedAndProject of k+1 rows
    (partial top-k per partition, k+1 rows to the driver grain); all the
    ln/divide math runs on those k+1 rows. Ties broken by id for a
    deterministic order statistic."""
    top = (
        documents.select(
            F.col(value_col).cast("bigint").alias("x"), F.col(id_col).alias("i")
        )
        .orderBy(F.col("x").desc(), F.col("i").asc())
        .limit(k + 1)
    )
    w = Window.orderBy(F.col("x").desc(), F.col("i").asc())
    ranked = top.select(
        "x", F.row_number().over(w).alias("rn")
    )
    kth = ranked.filter(F.col("rn") == k + 1).select(
        F.col("x").alias("x_k1")
    )
    return (
        ranked.filter(F.col("rn") <= k)
        .crossJoin(F.broadcast(kth))
        .agg(
            F.lit(int(k)).cast("bigint").alias("k"),
            F.max("x_k1").cast("bigint").alias("x_k1"),
            F.round(
                F.sum(F.log(F.col("x") / F.col("x_k1"))), 6
            ).alias("sum_log_ratio"),
            F.round(
                F.lit(int(k)) / F.sum(F.log(F.col("x") / F.col("x_k1"))), 6
            ).alias("tail_alpha"),
        )
    )


def spearman_quality_length(
    documents: DataFrame,
    text_col: str = "text",
) -> DataFrame:
    """Spearman rank correlation between quality score and document token
    count — the monotone-association check (q117's Pearson misses
    nonlinear but monotone coupling, and raw lengths are heavy-tailed
    enough that linear correlation is mostly tail noise).

    Ranks are exact MID-RANKS computed on each signal's bounded
    distinct-VALUE grain (score ≤101 values; token counts bounded by max
    doc length) and broadcast back — the corpus never sorts. Doubled
    ranks (2·midrank is always an integer) keep everything integral; the
    co-moment sums run in DECIMAL(38,0) because rank² ~ N² overflows
    int64 at corpus scale. Output one row:
    (n_docs, rho)."""
    sig = documents.select(
        quality_score_col(text_col).alias("s"),
        F.size(tokens(text_col)).cast("bigint").alias("t"),
    )
    sig = share_relation(sig)

    def _rank2(col: str) -> DataFrame:
        counts = sig.groupBy(col).agg(F.count(F.lit(1)).alias("c"))
        w = Window.orderBy(col).rowsBetween(
            Window.unboundedPreceding, -1
        )
        return counts.select(
            F.col(col).alias("v"),
            (
                2 * F.coalesce(F.sum("c").over(w), F.lit(0))
                + F.col("c")
                + 1
            ).cast("bigint").alias("r2"),
        )

    rs = _rank2("s").select(F.col("v").alias("s"), F.col("r2").alias("r2s"))
    rt = _rank2("t").select(F.col("v").alias("t"), F.col("r2").alias("r2t"))
    d38 = "decimal(38,0)"
    j = (
        sig.join(F.broadcast(rs), "s")
        .join(F.broadcast(rt), "t")
        .select(
            F.col("r2s").cast(d38).alias("x"),
            F.col("r2t").cast(d38).alias("y"),
        )
    )
    agg = j.agg(
        F.count(F.lit(1)).cast(d38).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    denx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    deny = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    return agg.select(
        F.col("n").cast("bigint").alias("n_docs"),
        F.round(
            F.when(
                (denx > 0) & (deny > 0),
                num.cast("double")
                / (
                    F.sqrt(denx.cast("double"))
                    * F.sqrt(deny.cast("double"))
                ),
            ),
            6,
        ).alias("rho"),  # NULL when either signal is constant
    )


def chao1_richness(
    documents: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Chao1 species-richness estimate of the DISTINCT-document population
    from duplicate multiplicities: with f1 singletons and f2 doubletons of
    the content hash, N̂ = D + f1(f1−1)/(2(f2+1)) — "how many unique
    documents would an infinite crawl of this corpus converge to", the
    capture–recapture answer to whether another crawl round is worth it.

    One uniform content-hash agg, then a count-of-counts agg to the
    bounded multiplicity grain; the estimate assembles from three exact
    integers. Output one row:
    (n_docs, distinct_docs, f1, f2, chao1)."""
    mult = documents.select(
        F.md5(F.col(text_col)).alias("h")
    ).groupBy("h").agg(F.count(F.lit(1)).alias("c"))
    return mult.agg(
        F.sum("c").cast("bigint").alias("n_docs"),
        F.count(F.lit(1)).cast("bigint").alias("distinct_docs"),
        F.sum((F.col("c") == 1).cast("bigint")).cast("bigint").alias("f1"),
        F.sum((F.col("c") == 2).cast("bigint")).cast("bigint").alias("f2"),
    ).select(
        "n_docs",
        "distinct_docs",
        "f1",
        "f2",
        F.round(
            F.col("distinct_docs")
            + (F.col("f1") * (F.col("f1") - 1))
            / (2.0 * (F.col("f2") + 1)),
            6,
        ).alias("chao1"),
    )


def lang_source_mi(documents: DataFrame) -> DataFrame:
    """Mutual information between language and source labels (nats) — the
    "are slices informative about each other" census: MI ≈ 0 means
    language mix is homogeneous across sources; high MI means sources are
    language-siloed and per-source curation thresholds need per-language
    calibration. Complements q173's chi² (significance) with effect size.

    One scan-stage agg to the dense |langs|×|sources| grid; marginals and
    the MI sum are windows over that bounded grid. Floats only in the
    final ln terms. Output one row: (n_docs, n_cells, mi_nats)."""
    cells = documents.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_ls")
    )
    tot = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    wl = Window.partitionBy("lang")
    ws = Window.partitionBy("source")
    terms = cells.select(
        "n_ls",
        F.sum("n_ls").over(wl).alias("n_l"),
        F.sum("n_ls").over(ws).alias("n_s"),
        F.sum("n_ls").over(tot).alias("n"),
    ).select(
        "n",
        (
            (F.col("n_ls") / F.col("n"))
            * F.log(
                # double multiplies: bigint n_ls·n overflows at corpus scale
                (F.col("n_ls").cast("double") * F.col("n").cast("double"))
                / (
                    F.col("n_l").cast("double")
                    * F.col("n_s").cast("double")
                )
            )
        ).alias("term"),
    )
    return terms.agg(
        F.max("n").cast("bigint").alias("n_docs"),
        F.count(F.lit(1)).cast("bigint").alias("n_cells"),
        F.round(F.sum("term"), 6).alias("mi_nats"),
    )


def char_bigram_entropy(
    documents: DataFrame,
    text_col: str = "text",
) -> DataFrame:
    """Conditional character entropy H(c₂|c₁) of the corpus (nats) — the
    first-order compressibility bound. q100's unigram entropy misses
    repeated structure; the conditional rate is what actually predicts
    gzip/tokenizer behavior, and a collapse between the two signals
    boilerplate.

    The corpus cost is one position explode (∝ total chars, scan-stage,
    no shuffle until the pair agg) into a (c₁,c₂) count aggregation —
    uniform short keys, map-side combine, output on the bounded pair
    grain (≤alphabet²). Entropy math runs on that grain: the c₁
    marginal is a window partitioned by c₁. Output one row:
    (n_pairs, n_distinct_pairs, cond_entropy_nats, perplexity)."""
    pairs = (
        documents.select(F.col(text_col).alias("t"))
        .filter(F.length("t") >= 2)
        .select(
            F.explode(
                F.expr("sequence(1, length(t) - 1)")
            ).alias("i"),
            "t",
        )
        .select(F.col("t").substr(F.col("i"), F.lit(2)).alias("pair"))
        .groupBy("pair")
        .agg(F.count(F.lit(1)).alias("n_p"))
    )
    wc = Window.partitionBy(F.substring(F.col("pair"), 1, 1))
    tot = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    terms = pairs.select(
        "n_p",
        F.sum("n_p").over(wc).alias("n_c1"),
        F.sum("n_p").over(tot).alias("n"),
    ).select(
        "n",
        (
            (F.col("n_p") / F.col("n"))
            * F.log(
                F.col("n_c1").cast("double") / F.col("n_p").cast("double")
            )
        ).alias("term"),
    )
    return terms.agg(
        F.max("n").cast("bigint").alias("n_pairs"),
        F.count(F.lit(1)).cast("bigint").alias("n_distinct_pairs"),
        F.round(F.sum("term"), 6).alias("cond_entropy_nats"),
        F.round(F.exp(F.sum("term")), 6).alias("perplexity"),
    )


def crossplit_nll(
    documents: DataFrame,
    fractions: dict[str, float] | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    seed: str = "split0",
) -> DataFrame:
    """Cross-split generalization gap: fit the Laplace-smoothed unigram LM
    on the TRAIN split only, score every split with it, and report each
    split's mean NLL — val/test NLL sitting far above train NLL means the
    splits genuinely separate content; a near-zero gap on a deduplicated
    corpus is the leakage smell q124 then localizes.

    The model is one token agg over train; per-term surprisal is
    integer-scaled (nano-nats) at the UNION-vocab grain — OOV terms get
    the same smoothed floor 1/(total+V+1) in both engines — so per-split
    sums are exact bigints. One token explode, one left join to the
    vocab-grain model, one agg to the |splits| grain."""
    from esop_spark.operators.splits import assign_split

    fr = fractions or {"train": 0.8, "val": 0.1, "test": 0.1}
    tok = documents.select(
        assign_split(F.col(id_col), fr, seed=seed).alias("split"),
        F.explode(tokens(text_col)).alias("term"),
    )
    tok = share_relation(tok)
    train_tf = tok.filter(F.col("split") == "train").groupBy("term").agg(
        F.count(F.lit(1)).alias("n")
    )
    stats = train_tf.agg(
        F.sum("n").alias("total"), F.count(F.lit(1)).alias("v")
    )
    # union vocab: every term seen in ANY split, with train count (0 if OOV)
    vocab = tok.select("term").distinct().join(train_tf, "term", "left")
    term_nll = vocab.crossJoin(F.broadcast(stats)).select(
        "term",
        F.round(
            -F.log(
                (F.coalesce(F.col("n"), F.lit(0)) + 1).cast("double")
                / (F.col("total") + F.col("v") + 1).cast("double")
            )
            * 1e9
        )
        .cast("bigint")
        .alias("nll9"),
    )
    return (
        tok.join(term_nll, "term")
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            F.round(F.sum("nll9") / F.count(F.lit(1)) / 1e9, 6).alias(
                "mean_nll"
            ),
        )
    )


def wilson_pass_ci(
    documents: DataFrame,
    z_milli: int = 1960,
    text_col: str = "text",
    source_col: str = "source",
) -> DataFrame:
    """Per-source Gopher pass rate with a Wilson score interval — the
    uncertainty-honest version of q67's raw counts: a 95% lower bound
    under the threshold is a defensible kill decision even for small
    sources, where a point estimate is noise.

    One scan projection (fused pass flag), one agg to |sources|; the
    Wilson algebra runs on that grain with exact integer (n, pass) and a
    milli-scaled z. Output per source:
    (n_docs, n_pass, pass_rate, ci_lo, ci_hi)."""
    z = F.lit(z_milli / 1000.0)
    agg = documents.select(
        F.col(source_col).alias("source"),
        _gopher_pass_col(text_col).alias("p"),
    ).groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("p").cast("bigint").alias("n_pass"),
    )
    n = F.col("n_docs").cast("double")
    phat = F.col("n_pass") / n
    z2 = z * z
    denom = 1 + z2 / n
    center = phat + z2 / (2 * n)
    rad = z * F.sqrt(phat * (1 - phat) / n + z2 / (4 * n * n))
    return agg.select(
        "source",
        "n_docs",
        "n_pass",
        F.round(phat, 6).alias("pass_rate"),
        F.round((center - rad) / denom, 6).alias("ci_lo"),
        F.round((center + rad) / denom, 6).alias("ci_hi"),
    )


def ucb_source_rank(
    documents: DataFrame,
    scale_milli: int = 1000,
    text_col: str = "text",
    source_col: str = "source",
) -> DataFrame:
    """UCB1 exploration score per source: gopher pass rate plus the
    √(2·ln N / n) exploration bonus — data sourcing as a bandit, where a
    small barely-sampled source with decent quality outranks a huge
    mediocre one until the evidence says otherwise. The greedy companion
    to q214's Wilson bound (optimism vs caution on the same counts).

    One scan projection + one agg to |sources|; the bonus algebra runs on
    that grain. Output per source:
    (n_docs, n_pass, pass_rate, bonus, ucb_score)."""
    agg = documents.select(
        F.col(source_col).alias("source"),
        _gopher_pass_col(text_col).alias("p"),
    ).groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("p").cast("bigint").alias("n_pass"),
    )
    tot = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    scaled = agg.select(
        "source",
        "n_docs",
        "n_pass",
        F.sum("n_docs").over(tot).alias("n_total"),
    )
    rate = F.col("n_pass") / F.col("n_docs")
    bonus = F.sqrt(
        2.0
        * F.log(F.col("n_total").cast("double"))
        / F.col("n_docs").cast("double")
    ) * (scale_milli / 1000.0)
    return scaled.select(
        "source",
        "n_docs",
        "n_pass",
        F.round(rate, 6).alias("pass_rate"),
        F.round(bonus, 6).alias("bonus"),
        F.round(rate + bonus, 6).alias("ucb_score"),
    )


def head_churn(
    documents: DataFrame,
    k: int = 15,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Vocabulary-head churn between two deterministic halves of the
    corpus (doc_id parity): how much of the top-k term list survives from
    one half to the other — a stable head means the high-frequency
    vocabulary (and therefore tokenizer merges, stopword lists, df caps)
    generalizes; churn means the halves are drawn from different
    material.

    One shared token agg to the (half, term) grain, two TakeOrdered
    k-row heads (count-desc, term tiebreak), overlap computed by joining
    the two k-row relations. Output one row:
    (k, n_common, jaccard)."""
    tf = documents.select(
        (F.col(id_col) % 2).alias("half"),
        F.explode(tokens(text_col)).alias("term"),
    ).groupBy("half", "term").agg(F.count(F.lit(1)).alias("n"))

    def _head(h: int) -> DataFrame:
        return (
            tf.filter(F.col("half") == h)
            .orderBy(F.col("n").desc(), F.col("term").asc())
            .limit(k)
            .select(F.col("term"))
        )

    common = _head(0).join(_head(1), "term").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_common")
    )
    return common.select(
        F.lit(int(k)).cast("bigint").alias("k"),
        "n_common",
        F.round(
            F.col("n_common") / (2 * k - F.col("n_common")), 6
        ).alias("jaccard"),
    )


def negative_sampling_table(
    documents: DataFrame,
    k: int = 25,
    alpha_milli: int = 750,
    text_col: str = "text",
) -> DataFrame:
    """Word2vec-style negative-sampling distribution: unigram counts
    raised to α (default 0.75) and normalized — the head of the table
    every contrastive embedding trainer draws negatives from; the α
    flattening is what keeps frequent tokens from swamping the negatives.

    One token agg to the vocab grain; pow/normalize run there (the
    normalizer is a window over the vocab grain — at 100 TB vocab this is
    the same uniform-key agg every tf relation already pays, not a
    corpus-row operation). TakeOrdered head of k rows. Output per term:
    (term, n, prob)."""
    alpha = alpha_milli / 1000.0
    tf = documents.select(
        F.explode(tokens(text_col)).alias("term")
    ).groupBy("term").agg(F.count(F.lit(1)).alias("n"))
    tot = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    weighted = tf.select(
        "term",
        "n",
        F.pow(F.col("n").cast("double"), F.lit(alpha)).alias("w"),
    ).select(
        "term",
        "n",
        (F.col("w") / F.sum("w").over(tot)).alias("prob"),
    )
    return (
        weighted.orderBy(F.col("prob").desc(), F.col("term").asc())
        .limit(k)
        .select(
            "term",
            F.col("n").cast("bigint").alias("n"),
            F.round("prob", 6).alias("prob"),
        )
    )


def sample_size_planner(
    documents: DataFrame,
    width_ppm: int = 20_000,
    z_milli: int = 1960,
    text_col: str = "text",
    source_col: str = "source",
) -> DataFrame:
    """Per-source sample-size requirement: how many more labeled docs are
    needed to pin each source's gopher pass rate to ±width (default ±2%)
    at 95% confidence — n_req = z²·p̂(1−p̂)/w², the planning number that
    turns q214's intervals into an annotation budget.

    Same scan-shaped battery as q67/q214/q218; the planning algebra runs
    on the |sources| grain. Output per source:
    (n_docs, pass_rate, n_required, deficit)."""
    z = z_milli / 1000.0
    w = width_ppm / 1_000_000.0
    agg = documents.select(
        F.col(source_col).alias("source"),
        _gopher_pass_col(text_col).alias("p"),
    ).groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("p").cast("bigint").alias("n_pass"),
    )
    phat = F.col("n_pass") / F.col("n_docs")
    n_req = F.ceil(
        F.lit(z * z) * phat * (1 - phat) / F.lit(w * w)
    ).cast("bigint")
    return agg.select(
        "source",
        "n_docs",
        F.round(phat, 6).alias("pass_rate"),
        n_req.alias("n_required"),
        F.greatest(n_req - F.col("n_docs"), F.lit(0).cast("bigint")).alias(
            "deficit"
        ),
    )


def cap_sweep(
    documents: DataFrame,
    caps: tuple[int, ...] = (5, 10, 20, 50),
    text_col: str = "text",
    source_col: str = "source",
) -> DataFrame:
    """Per-source document-cap tuning sweep: for each candidate cap, how
    many documents and tokens survive "keep at most N docs per source"
    (the q76 source-cap operator's knob) — the one-scan planning table
    that picks the cap before paying the capped rebuild.

    One agg to the (source, doc-count) grain... in fact better: per
    source, total docs + tokens, then each cap keeps
    min(cap, n_docs) docs — but WHICH docs survive matters for tokens,
    so the sweep uses the deterministic hash order: per (source, rank
    bucket) token mass from the distributed stratum-rank construction is
    overkill for planning; this table instead reports the EXACT doc
    survival and the token mass bound assuming uniform tokens/doc
    (upper/lower per-source mean bounds). Output per (source, cap):
    (source, cap, n_docs, kept_docs, kept_tokens_est)."""
    per_source = documents.select(
        F.col(source_col).alias("source"),
        F.size(tokens(text_col)).cast("bigint").alias("t"),
    ).groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("t").cast("bigint").alias("n_tokens"),
    )
    cap_lits = F.array(*[F.lit(int(c)) for c in caps])
    swept = per_source.select(
        "source",
        "n_docs",
        "n_tokens",
        F.explode(cap_lits).alias("cap"),
    )
    kept = F.least(F.col("cap").cast("bigint"), F.col("n_docs"))
    return swept.select(
        "source",
        F.col("cap").cast("bigint").alias("cap"),
        "n_docs",
        kept.alias("kept_docs"),
        F.expr(
            "(n_tokens * least(cast(cap as bigint), n_docs)) div n_docs"
        ).cast("bigint").alias("kept_tokens_est"),
    )


def feature_hash_collisions(
    documents: DataFrame,
    bits: int = 12,
    text_col: str = "text",
) -> DataFrame:
    """Feature-hashing collision audit: hash the vocabulary into 2^bits
    buckets (the hashing trick every linear text model and q82's DSIR
    histograms rely on) and report how many buckets hold >1 distinct
    term and what share of TOKEN MASS sits in collided buckets — the
    number that says whether `bits` is large enough for this corpus.

    One token agg to the vocab grain, one hash agg to the ≤2^bits bucket
    grain, folded to a 1-row census. Exact integers throughout. Output:
    (bits, n_terms, n_buckets_used, collided_buckets, collided_terms,
    collided_mass_ppm)."""
    n_buckets = 1 << bits
    tf = documents.select(
        F.explode(tokens(text_col)).alias("term")
    ).groupBy("term").agg(F.count(F.lit(1)).alias("n"))
    from esop_spark.operators.dedup import md5_hash32

    bucketed = tf.select(
        F.pmod(md5_hash32(F.concat(F.lit("fh:"), F.col("term"))),
               F.lit(n_buckets)).alias("b"),
        "n",
    ).groupBy("b").agg(
        F.count(F.lit(1)).alias("terms"),
        F.sum("n").alias("mass"),
    )
    bucketed = share_relation(bucketed)
    totals = bucketed.agg(
        F.sum("terms").cast("bigint").alias("n_terms"),
        F.sum("mass").cast("bigint").alias("n_tokens"),
        F.count(F.lit(1)).cast("bigint").alias("n_buckets_used"),
    )
    collided = bucketed.filter(F.col("terms") > 1).agg(
        F.count(F.lit(1)).cast("bigint").alias("collided_buckets"),
        F.coalesce(F.sum("terms"), F.lit(0))
        .cast("bigint")
        .alias("collided_terms"),
        F.coalesce(F.sum("mass"), F.lit(0))
        .cast("bigint")
        .alias("collided_mass"),
    )
    return totals.crossJoin(collided).select(
        F.lit(int(bits)).cast("bigint").alias("bits"),
        "n_terms",
        "n_buckets_used",
        "collided_buckets",
        "collided_terms",
        F.expr("(collided_mass * 1000000) div n_tokens")
        .cast("bigint")
        .alias("collided_mass_ppm"),
    )


def best_split_stump(
    documents: DataFrame,
    text_col: str = "text",
) -> DataFrame:
    """Decision-stump learner: the quality-score threshold that best
    predicts the Gopher pass flag by exact Gini impurity reduction — the
    first node of every tree model, and the data-driven answer to "where
    should the quality cutoff actually sit" (versus q150's fixed grid).

    One scan projection (score + pass fused), one agg to the ≤101-row
    score grain, cumulative windows over that grain to evaluate EVERY
    candidate threshold exactly, one TakeOrdered row out. The Gini math
    uses integer counts with doubles only in the final impurity terms.
    Output one row: (threshold, n_left, n_right, gini_gain)."""
    flagged = documents.select(
        quality_score_col(text_col).alias("s"),
        _gopher_pass_col(text_col).alias("p"),
    ).groupBy("s").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("p").alias("np"),
    )
    w = Window.orderBy("s").rowsBetween(Window.unboundedPreceding, 0)
    tot = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = flagged.select(
        "s",
        F.sum("n").over(w).alias("nl"),
        F.sum("np").over(w).alias("npl"),
        F.sum("n").over(tot).alias("nt"),
        F.sum("np").over(tot).alias("npt"),
    ).filter(F.col("nl") < F.col("nt"))  # split must leave a right side
    nl = F.col("nl").cast("double")
    nr = (F.col("nt") - F.col("nl")).cast("double")
    pl = F.col("npl") / nl
    pr = (F.col("npt") - F.col("npl")) / nr
    pt = F.col("npt") / F.col("nt").cast("double")
    parent = 2 * pt * (1 - pt)
    child = (nl * 2 * pl * (1 - pl) + nr * 2 * pr * (1 - pr)) / F.col(
        "nt"
    ).cast("double")
    scored = cum.select(
        F.col("s").cast("bigint").alias("threshold"),
        F.col("nl").cast("bigint").alias("n_left"),
        (F.col("nt") - F.col("nl")).cast("bigint").alias("n_right"),
        F.round(parent - child, 6).alias("gini_gain"),
    )
    return scored.orderBy(
        F.col("gini_gain").desc(), F.col("threshold").asc()
    ).limit(1)


def stump_eval_by_source(
    documents: DataFrame,
    threshold: int,
    text_col: str = "text",
    source_col: str = "source",
) -> DataFrame:
    """Evaluate the q235 stump per source: treating score > threshold as
    the predicted pass, exact precision/recall/F1 against the Gopher
    battery — whether ONE global cutoff transfers across sources or some
    need their own (the per-slice calibration decision).

    Same fused scan battery; confusion counts are exact integers on the
    |sources| grain, with milli-scaled metrics (NULL when undefined).
    Output per source: (n_docs, tp, fp, fn, precision_milli,
    recall_milli, f1_milli)."""
    flagged = documents.select(
        F.col(source_col).alias("source"),
        (quality_score_col(text_col) > threshold).cast("bigint").alias("yhat"),
        _gopher_pass_col(text_col).alias("y"),
    )
    agg = flagged.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(F.col("yhat") * F.col("y")).cast("bigint").alias("tp"),
        F.sum(F.col("yhat") * (1 - F.col("y"))).cast("bigint").alias("fp"),
        F.sum((1 - F.col("yhat")) * F.col("y")).cast("bigint").alias("fn"),
    )
    prec = F.when(
        F.col("tp") + F.col("fp") > 0,
        F.expr("(tp * 1000) div (tp + fp)"),
    ).cast("bigint")
    rec = F.when(
        F.col("tp") + F.col("fn") > 0,
        F.expr("(tp * 1000) div (tp + fn)"),
    ).cast("bigint")
    f1 = F.when(
        2 * F.col("tp") + F.col("fp") + F.col("fn") > 0,
        F.expr("(2 * tp * 1000) div (2 * tp + fp + fn)"),
    ).cast("bigint")
    return agg.select(
        "source", "n_docs", "tp", "fp", "fn",
        prec.alias("precision_milli"),
        rec.alias("recall_milli"),
        f1.alias("f1_milli"),
    )


def loso_source_influence(
    documents: DataFrame,
    text_col: str = "text",
    source_col: str = "source",
) -> DataFrame:
    """Leave-one-source-out influence: for every source s, fit the
    Laplace-smoothed unigram LM on ALL OTHER sources and score s with it.
    mean_nll_loo far above mean_nll_full (the delta column) means the rest
    of the corpus cannot predict s — s is contributing unique content;
    delta ≈ 0 means s is redundant with the rest. The cheap, exact stand-in
    for per-source data-valuation (one pass, no retraining per source —
    the LOO counts are just global − source).

    Cross-engine determinism: per-(term, source) surprisal is integer
    nano-nats (q61/q213's scheme) weighted by exact token counts, so
    per-source sums are exact bigints; the single division per source is
    identical everywhere.

    Scale shape: one token explode into a (term, source) mergeable agg;
    the vocab-grain term totals join at the same key; per-source scalars
    (total/V/exclusive-term corrections) are a |sources|-row broadcast.
    No per-doc state, no windows.

    Output per source: (source, n_tokens, mean_nll_loo, mean_nll_full,
    delta_nll)."""
    ts = (
        documents.select(
            F.col(source_col).alias("src"),
            F.explode(tokens(text_col)).alias("term"),
        )
        .groupBy("src", "term")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_st"))
    )
    ts = share_relation(ts)
    tg = ts.groupBy("term").agg(F.sum("n_st").cast("bigint").alias("n_t"))
    glob = tg.agg(
        F.sum("n_t").cast("bigint").alias("total"),
        F.count(F.lit(1)).cast("bigint").alias("v"),
    )
    joined = ts.join(tg, "term")
    per_src = (
        joined.groupBy("src")
        .agg(
            F.sum("n_st").cast("bigint").alias("total_s"),
            F.sum(F.when(F.col("n_t") == F.col("n_st"), 1).otherwise(0))
            .cast("bigint")
            .alias("excl_s"),
        )
        .crossJoin(F.broadcast(glob))
        .select(
            "src",
            "total_s",
            (F.col("total") - F.col("total_s")).alias("total_loo"),
            (F.col("v") - F.col("excl_s")).alias("v_loo"),
            "total",
            "v",
        )
    )
    nano = lambda num, den: F.round(  # noqa: E731
        -F.log(num.cast("double") / den.cast("double")) * 1e9
    ).cast("bigint")
    contrib = joined.join(F.broadcast(per_src), "src").select(
        "src",
        "n_st",
        (
            F.col("n_st")
            * nano(
                F.col("n_t") - F.col("n_st") + 1,
                F.col("total_loo") + F.col("v_loo") + 1,
            )
        ).alias("loo9"),
        (
            F.col("n_st")
            * nano(F.col("n_t") + 1, F.col("total") + F.col("v") + 1)
        ).alias("full9"),
    )
    out = (
        contrib.groupBy("src")
        .agg(
            F.sum("n_st").cast("bigint").alias("n_tokens"),
            F.sum("loo9").alias("loo9"),
            F.sum("full9").alias("full9"),
        )
        .select(
            F.col("src").alias("source"),
            "n_tokens",
            F.round(F.col("loo9") / F.col("n_tokens") / 1e9, 6).alias(
                "mean_nll_loo"
            ),
            F.round(F.col("full9") / F.col("n_tokens") / 1e9, 6).alias(
                "mean_nll_full"
            ),
            F.round(
                (F.col("loo9") - F.col("full9")) / F.col("n_tokens") / 1e9, 6
            ).alias("delta_nll"),
        )
    )
    return out


HLL_P_BITS = 8  # 256 registers
HLL_ALPHA_256 = 0.7213 / (1 + 1.079 / 256)  # Flajolet's alpha_m for m=256


def hll_distinct_audit(
    documents: DataFrame,
    text_col: str = "text",
    strata_col: str = "source",
) -> DataFrame:
    """HyperLogLog distinct-vocabulary estimate per stratum, audited
    against the exact count — the third sketch in the family (CMS counts
    frequencies, MinHash similarity, HLL cardinality). The production
    question it models: "how many distinct terms does each source
    contribute" over a vocabulary too wide to hold — the sketch relation
    is |strata| × 256 registers REGARDLESS of corpus size (mergeable max,
    map-side combinable); the exact leg exists here only to measure the
    sketch's error.

    Construction (cross-engine md5 family, so the oracle replays it):
    h = 32-bit md5 prefix of the term; register j = top 8 bits; rank =
    leading-zero count of the low 24 bits + 1 (via binary-string length —
    integer-exact in both engines, no float log); estimate =
    α·m²/Σ2^(−M_j) with absent registers contributing 2⁰, linear counting
    below 2.5m when empty registers remain. The Σ2^(−M_j) terms are
    dyadic rationals, so the 256-term double sum is EXACT in any
    summation order — no cross-engine drift.

    Output per stratum: (stratum, n_exact, hll_est, err_ppm)."""
    from .dedup import md5_hash32

    m = 1 << HLL_P_BITS
    terms = (
        documents.select(
            F.col(strata_col).alias("stratum"),
            F.explode(tokens(text_col)).alias("term"),
        )
        .distinct()
    )
    terms = share_relation(terms)  # consumed by the exact count and the register agg
    exact = terms.groupBy("stratum").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_exact")
    )
    h = md5_hash32(F.col("term"))
    w_bits = 32 - HLL_P_BITS
    hashed = terms.select(
        "stratum",
        (h % F.lit(1 << w_bits)).alias("w"),
        (h / F.lit(1 << w_bits)).cast("bigint").alias("j"),
    )
    rank = F.when(F.col("w") == 0, F.lit(w_bits + 1)).otherwise(
        F.lit(w_bits + 1) - F.length(F.conv(F.col("w"), 10, 2))
    )
    regs = hashed.select("stratum", "j", rank.alias("r")).groupBy(
        "stratum", "j"
    ).agg(F.max("r").alias("mreg"))
    per = regs.groupBy("stratum").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_present"),
        F.sum(F.pow(F.lit(2.0), -F.col("mreg"))).alias("s_present"),
    )
    zeros = F.lit(m) - F.col("n_present")
    raw = F.lit(HLL_ALPHA_256 * m * m) / (F.col("s_present") + zeros)
    est = F.when(
        (raw <= 2.5 * m) & (zeros > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / zeros),
    ).otherwise(raw)
    out = (
        per.join(exact, "stratum")
        .select(
            "stratum",
            "n_exact",
            F.round(est, 6).alias("hll_est"),
            F.round((est - F.col("n_exact")) * 1e6 / F.col("n_exact"))
            .cast("bigint")
            .alias("err_ppm"),
        )
    )
    return out


def theil_decomposition(
    documents: DataFrame,
    value_col: str = "n_chars",
    strata_col: str = "source",
) -> DataFrame:
    """Theil-T inequality index of ``value_col`` with its exact
    between/within decomposition over ``strata_col``: T = T_between +
    Σ share_g · T_within_g. The question Gini (q118) cannot answer:
    HOW MUCH of the length inequality is a source-mix effect (between)
    vs dispersion inside sources (within) — the first decides reweighting
    the mix, the second per-source filtering.

    T = (1/N) Σ (x_i/μ)·ln(x_i/μ); between-term uses group means; the
    within contribution is T − T_between (exact by the decomposition
    identity, so no per-row residual pass).

    Scale shape: per-(stratum, value) counts would be unbounded, so the
    per-row x·ln(x) fold happens INSIDE the one mergeable agg to the
    |strata| grain (sum of x, sum of x·ln x, n); everything downstream is
    |strata|-row arithmetic. Zero values are excluded (ln undefined) and
    reported.

    Output one row: (n_rows, n_zero, mean_val, theil_total, theil_between,
    theil_within)."""
    base = documents.select(
        F.col(strata_col).alias("g"),
        F.col(value_col).cast("bigint").alias("x"),
    )
    per_g = (
        base.filter(F.col("x") > 0)
        .groupBy("g")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_g"),
            F.sum("x").cast("bigint").alias("sx_g"),
            F.sum(F.col("x") * F.log(F.col("x").cast("double"))).alias(
                "sxlx_g"
            ),
        )
    )
    zeros = base.filter(F.col("x") <= 0).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_zero")
    )
    tot = per_g.agg(
        F.sum("n_g").cast("bigint").alias("n"),
        F.sum("sx_g").cast("bigint").alias("sx"),
        F.sum("sxlx_g").alias("sxlx"),
        # between term: Σ_g (sx_g/sx)·ln( (sx_g/n_g) / (sx/n) ) needs the
        # global scalars — fold the per-group pieces that don't:
        F.sum(
            F.col("sx_g").cast("double")
            * F.log(F.col("sx_g").cast("double") / F.col("n_g"))
        ).alias("sx_lmu_g"),
    )
    mu = F.col("sx") / F.col("n")
    # T_total = (1/N)Σ(x/μ)ln(x/μ) = (Σ x·ln x)/(N·μ) − ln μ
    t_total = F.col("sxlx") / (F.col("n") * mu) - F.log(mu)
    # T_between = Σ (sx_g/sx)·ln(μ_g/μ) = sx_lmu_g/sx − ln μ
    t_between = F.col("sx_lmu_g") / F.col("sx") - F.log(mu)
    return tot.crossJoin(F.broadcast(zeros)).select(
        F.col("n").alias("n_rows"),
        "n_zero",
        F.round(mu, 6).alias("mean_val"),
        F.round(t_total, 6).alias("theil_total"),
        F.round(t_between, 6).alias("theil_between"),
        F.round(t_total - t_between, 6).alias("theil_within"),
    )


def kmv_jaccard(
    documents: DataFrame,
    k: int = 256,
    text_col: str = "text",
    strata_col: str = "source",
) -> DataFrame:
    """KMV (bottom-k) vocabulary signatures per stratum, with pairwise
    Jaccard estimated by the k-union trick and audited against exact
    Jaccard: fourth sketch of the family (CMS counts, MinHash pairs, HLL
    cardinality — KMV adds SET-OPERATION estimates between summaries).
    Estimate: among the k smallest hashes of A∪B, the fraction present in
    BOTH signatures. At 100 TB the signatures (|strata|×k rows) are the
    only thing two corpora ever exchange to estimate overlap.

    Scale shape: one distinct (stratum, term) relation feeds both legs;
    the signature ranking is the distributed stratum-rank (no per-stratum
    single-task window); everything pairwise happens on the
    |strata|²×k-bounded signature grain. The exact leg joins on the term
    key (vocab grain).

    Output per pair: (src_a, src_b, n_a, n_b, exact_j, kmv_j)."""
    from esop_spark.operators.dedup import md5_hash32
    from esop_spark.operators.sampling import _distributed_stratum_rank

    terms = (
        documents.select(
            F.col(strata_col).alias("s"),
            F.explode(tokens(text_col)).alias("term"),
        )
        .distinct()
        .withColumn("h", md5_hash32(F.col("term")))
    )
    terms = share_relation(terms)
    counts = terms.groupBy("s").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_terms")
    )
    ranked = _distributed_stratum_rank(
        terms, "s", F.col("h"), F.col("term")
    )
    sig = share_relation(ranked.filter(F.col("_rn") <= k).select("s", "h"))
    # exact jaccard from the vocab-grain term join
    ta = terms.select(F.col("s").alias("sa"), "term")
    tb = terms.select(F.col("s").alias("sb"), "term")
    inter = (
        ta.join(tb, "term")
        .filter(F.col("sa") < F.col("sb"))
        .groupBy("sa", "sb")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_inter"))
    )
    ca = counts.select(F.col("s").alias("sa"), F.col("n_terms").alias("n_a"))
    cb = counts.select(F.col("s").alias("sb"), F.col("n_terms").alias("n_b"))
    # pair universe from the bounded stratum grain — a disjoint-vocabulary
    # pair has no intersection row but must still report exact_j = 0
    exact = (
        ca.crossJoin(cb)
        .filter(F.col("sa") < F.col("sb"))
        .join(inter, ["sa", "sb"], "left")
        .select(
            "sa",
            "sb",
            "n_a",
            "n_b",
            F.round(
                F.coalesce(F.col("n_inter"), F.lit(0))
                / (
                    F.col("n_a")
                    + F.col("n_b")
                    - F.coalesce(F.col("n_inter"), F.lit(0))
                ),
                6,
            ).alias("exact_j"),
        )
    )
    # kmv estimate: k smallest distinct hashes of A∪B, fraction in both
    pa = sig.select(F.col("s").alias("sa"), "h")
    pb = sig.select(F.col("s").alias("sb"), "h")
    merged = (
        pa.join(
            counts.select(F.col("s").alias("sa")).crossJoin(
                counts.select(F.col("s").alias("sb"))
            ).filter(F.col("sa") < F.col("sb")),
            "sa",
        )
        .select("sa", "sb", "h", F.lit(1).alias("in_a"), F.lit(0).alias("in_b"))
        .unionByName(
            pb.join(
                counts.select(F.col("s").alias("sa")).crossJoin(
                    counts.select(F.col("s").alias("sb"))
                ).filter(F.col("sa") < F.col("sb")),
                "sb",
            ).select(
                "sa", "sb", "h", F.lit(0).alias("in_a"), F.lit(1).alias("in_b")
            )
        )
        .groupBy("sa", "sb", "h")
        .agg(
            F.max("in_a").alias("in_a"),
            F.max("in_b").alias("in_b"),
        )
    )
    w = Window.partitionBy("sa", "sb").orderBy("h")  # ≤2k rows per pair
    est = (
        merged.withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") <= k)
        .groupBy("sa", "sb")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("kk"),
            F.sum(F.col("in_a") * F.col("in_b")).cast("bigint").alias("both"),
        )
        .select(
            "sa",
            "sb",
            F.round(F.col("both") / F.col("kk"), 6).alias("kmv_j"),
        )
    )
    return exact.join(est, ["sa", "sb"]).select(
        F.col("sa").alias("src_a"),
        F.col("sb").alias("src_b"),
        "n_a",
        "n_b",
        "exact_j",
        "kmv_j",
    )


def gopher_pass_col(text_col: str | Column = "text") -> Column:
    """Boolean Column: does the document pass the full q67 Gopher battery —
    the per-row form of :func:`gopher_rules`' aggregate flags, composable
    into pipelines without a join."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    words = F.split(c, " ")
    sym_lits = F.array(*[F.lit(s) for s in GOPHER_SYMBOLS])
    stop_lits = F.array(*[F.lit(w) for w in DEFAULT_STOPWORDS])
    lo, hi = GOPHER_MEAN_WORD_LEN
    n = F.size(words)
    mwl = (
        F.aggregate(words, F.lit(0).cast("bigint"), lambda a, x: a + F.length(x))
        / n
    )
    symf = F.size(F.filter(words, lambda x: F.array_contains(sym_lits, x))) / n
    stop = F.size(F.filter(words, lambda x: F.array_contains(stop_lits, x)))
    return (
        (n >= GOPHER_MIN_WORDS)
        & (n <= GOPHER_MAX_WORDS)
        & (mwl >= lo)
        & (mwl <= hi)
        & (symf <= GOPHER_MAX_SYMBOL_FRAC)
        & (stop >= GOPHER_MIN_STOPWORD_HITS)
    )


def readability_profile(
    documents: DataFrame,
    text_col: str = "text",
    source_col: str = "source",
) -> DataFrame:
    """Flesch-style readability per source from integer-exact text
    structure: words (space tokens), sentences (runs of [.!?], min 1),
    syllables (vowel-group runs — the standard cheap proxy). Per-doc
    score = 206.835 − 1.015·(w/s) − 84.6·(syl/w), carried in milli-ints
    so the corpus sums are exact; the curation question is which sources
    skew unreadable BEFORE an LM filter spends GPU time on them.

    Scale shape: pure scan projection (three regex/array counts per row),
    one mergeable agg to the |sources| grain.

    The per-doc milli score is computed in EXACT integer arithmetic:
    206.835 − 1.015·(w/s) − 84.6·(syl/w) in millis is the rational
    p/q with p = 206835·s·w − 1015·w² − 84600·syl·s and q = s·w, and
    fm = round-half-away-from-zero(p/q) = sign(p)·((2|p| + q) div 2q) —
    all bigints, so every engine lands on the identical fm. The former
    float form (round(double_expr · 1000)) put each doc's fm one double
    rounding error away from a .5 boundary; at sf0.001 one src2 doc
    actually crossed it and Spark/DuckDB disagreed by 1 milli (the
    round-11 oracle sweep caught the 4e-5 mean shift on a 25-doc
    source). Overflow headroom: |p| < 2⁶² needs s·w < ~2e13 — a
    10⁷-word, 10⁶-sentence document still fits.

    Output per source: (source, n_docs, mean_flesch, n_easy, n_hard)."""
    c = F.col(text_col)
    w = F.size(F.split(c, " ")).cast("bigint")
    s = F.greatest(
        F.lit(1).cast("bigint"),
        F.size(F.expr(f"regexp_extract_all({text_col}, '[.!?]+', 0)"))
        .cast("bigint"),
    )
    syl = F.greatest(
        F.lit(1).cast("bigint"),
        F.size(
            F.expr(f"regexp_extract_all(lower({text_col}), '[aeiou]+', 0)")
        ).cast("bigint"),
    )
    base = documents.select(
        F.col(source_col).alias("source"),
        (
            F.lit(206835).cast("bigint") * s * w
            - F.lit(1015).cast("bigint") * w * w
            - F.lit(84600).cast("bigint") * syl * s
        ).alias("p"),
        (s * w).alias("q"),
    )
    scored = base.select(
        "source",
        F.expr(
            "CASE WHEN p >= 0 THEN (2 * p + q) DIV (2 * q) "
            "ELSE -((2 * (-p) + q) DIV (2 * q)) END"
        )
        .cast("bigint")
        .alias("fm"),
    )
    return scored.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.round(F.sum("fm") / F.count(F.lit(1)) / 1000.0, 6).alias(
            "mean_flesch"
        ),
        F.sum(F.when(F.col("fm") >= 70_000, 1).otherwise(0))
        .cast("bigint")
        .alias("n_easy"),
        F.sum(F.when(F.col("fm") < 30_000, 1).otherwise(0))
        .cast("bigint")
        .alias("n_hard"),
    )


def curation_pipeline_funnel(
    documents: DataFrame,
    sample_ppm: int = 500_000,
    sample_seed: str = "rel0",
    shard_budget_tokens: int = 20_000,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The curation pipeline as ONE DataFrame DAG, reported as a funnel:
    raw → Gopher structural filter → exact (tokenset) dedup → hash
    sample → shard plan. Each stage reports surviving docs and tokens;
    the final row adds the shard count ceil(tokens/budget). q130's
    filter funnel sweeps predicate batteries; this composes the FULL
    release path (filter → dedup → sample → pack) so a mix change shows
    its downstream effect in one relation.

    Stage semantics (each reuses the operator family's exact rules):
    Gopher = :func:`gopher_pass_col`; dedup keeps the min ``id_col`` per
    :func:`tokenset_key`; sample keeps md5 bucket < sample_ppm (q50
    family).

    Scale shape: one base scan feeds every stage lazily; the dedup stage
    is the only wide exchange (uniform content-key shuffle); stage
    reports are 1-row aggs unioned on the |stages| grain."""
    from esop_spark.operators.sampling import BUCKETS, sample_bucket

    base = documents.select(
        F.col(id_col).alias("rid"),
        F.size(F.split(F.col(text_col), " ")).cast("bigint").alias("toks"),
        gopher_pass_col(text_col).alias("gp"),
        tokenset_key(text_col).alias("tk"),
        sample_bucket(F.col(id_col), sample_seed).alias("sb"),
    )
    base = share_relation(base)

    def stage(df: DataFrame, idx: int, name: str) -> DataFrame:
        return df.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.coalesce(F.sum("toks"), F.lit(0)).cast("bigint").alias(
                "n_tokens"
            ),
        ).select(
            F.lit(idx).cast("bigint").alias("stage_idx"),
            F.lit(name).alias("stage"),
            "n_docs",
            "n_tokens",
            F.ceil(F.col("n_tokens") / F.lit(shard_budget_tokens))
            .cast("bigint")
            .alias("n_shards"),
        )

    s0 = stage(base, 0, "raw")
    passed = base.filter("gp")
    s1 = stage(passed, 1, "gopher")
    kept = (
        passed.groupBy("tk")
        .agg(
            F.min("rid").alias("keep_rid"),
            F.min_by("toks", F.struct("rid")).alias("toks"),
        )
        .select(F.col("keep_rid").alias("rid"), "toks")
    )
    s2 = stage(kept, 2, "dedup")
    sampled = kept.join(
        passed.select("rid", "sb").dropDuplicates(["rid"]), "rid"
    ).filter(F.col("sb") < int(sample_ppm * BUCKETS / 1_000_000))
    s3 = stage(sampled.select("rid", "toks"), 3, "sample")
    return s0.unionByName(s1).unionByName(s2).unionByName(s3)
