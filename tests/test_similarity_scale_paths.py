"""Scale-path ANN variants: recall of IVF / LSH vs the exact baseline over
the real embeddings table."""

from esop_spark.operators import similarity


def test_ivf_topk_recall(spark):
    emb = (
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    )
    qids = list(range(5))
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.ann_topk(emb, query_ids=qids, k=5).collect()
    }
    ivf = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.ivf_ann_topk(
            emb, query_ids=qids, k=5, n_centroids=8, n_probe=4
        ).collect()
    }
    assert len(ivf) == len(exact) == 25
    recall = len(ivf & exact) / len(exact)
    # probing half the cells should recover well over half the true top-k
    assert recall >= 0.6, recall


def test_ivf_kmeans_trained_recall(spark):
    """Multi-iteration Lloyd's training: IVF over converged cells recovers
    ≥0.9 of the exact top-5 at n_probe=4."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qids = list(range(10))
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.ann_topk(emb, query_ids=qids, k=5).collect()
    }
    ivf = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.ivf_ann_topk(
            emb, query_ids=qids, k=5, n_centroids=8, n_probe=4, kmeans_iters=10
        ).collect()
    }
    recall = len(ivf & exact) / len(exact)
    assert recall >= 0.9, recall


def test_kmeans_converges_to_cluster_means(spark):
    """Two separated clusters, k=2: Lloyd's iterations move the seed points
    to the cluster means and stop on the tol gate before max_iter."""
    import random

    rnd = random.Random(3)
    dim = 8
    rows = []
    for i in range(20):
        base = [1.0] + [0.0] * (dim - 1) if i % 2 == 0 else [0.0, 1.0] + [0.0] * (dim - 2)
        rows.append((i, [x + rnd.uniform(-0.05, 0.05) for x in base]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = similarity.kmeans_centroids(emb, n_centroids=2, max_iter=25, tol=1e-6)
    assert len(cents) == 2
    means = {}
    for i, (_, v) in enumerate(rows):
        means.setdefault(i % 2, []).append(v)
    true_means = [
        [sum(col) / len(vs) for col in zip(*vs)] for vs in means.values()
    ]
    for _, cv in cents:
        dists = [
            sum((a - b) ** 2 for a, b in zip(cv, tm)) ** 0.5 for tm in true_means
        ]
        assert min(dists) < 0.05, (cv, dists)
    # both clusters captured (centroids not collapsed onto one mean)
    closest = {
        min(range(2), key=lambda j: sum((a - b) ** 2 for a, b in zip(cv, true_means[j])))
        for _, cv in cents
    }
    assert closest == {0, 1}


def test_pq_recall_on_clustered_corpus(spark):
    """PQ codes must retrieve same-cluster neighbors: 4 well-separated
    clusters of 25 vectors; ADC top-10 for one query per cluster must come
    entirely from its own cluster (coarse recall — the property PQ
    guarantees; within-cluster fine ranking needs exact re-ranking of the
    shortlist, which is what the codes' 64x memory saving buys room for)."""
    import random

    from esop_spark.operators import similarity

    rnd = random.Random(7)
    rows = []
    for c in range(4):
        center = [10.0 * (1 if (c >> b) & 1 else -1) for b in range(2)] * 32
        for i in range(25):
            rows.append(
                (c * 100 + i, [x + rnd.gauss(0, 0.5) for x in center[:64]])
            )
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    books = similarity.pq_train(emb, m=16, k=8, max_iter=4)
    assert len(books) == 16 and len(books[0]) == 8 and len(books[0][0]) == 4

    queries = [0, 100, 200, 300]
    got = similarity.pq_ann_topk(emb, books, queries, k=10)
    by_q = {}
    for r in got.collect():
        by_q.setdefault(r["query_id"], []).append(r["neighbor_id"])
    for q in queries:
        assert len(by_q[q]) == 10
        # every retrieved neighbor is from the query's own cluster — on
        # well-separated clusters ADC cross-cluster distances dwarf
        # within-cluster ones, so coarse recall must be perfect
        assert all(n // 100 == q // 100 for n in by_q[q]), (q, by_q[q])


def test_pq_encode_is_deterministic_and_layout_invariant(spark):
    from esop_spark.operators import similarity

    rows = [(i, [float((i * 13 + j) % 7) for j in range(16)]) for i in range(40)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    books = similarity.pq_train(emb, m=4, k=4, max_iter=3)
    a = {r["vec_id"]: list(r["codes"]) for r in similarity.pq_encode(emb, books).collect()}
    b = {
        r["vec_id"]: list(r["codes"])
        for r in similarity.pq_encode(emb.repartition(11), books).collect()
    }
    assert a == b and len(a) == 40
    assert all(0 <= c < 4 for cs in a.values() for c in cs)


def test_ivfpq_coarse_recall(spark):
    """IVF probing + PQ codes composed: same clustered corpus, top-10 per
    query must still come entirely from the query's own cluster."""
    import random

    from esop_spark.operators import similarity

    rnd = random.Random(11)
    rows = []
    for c in range(4):
        center = [8.0 * (1 if (c >> b) & 1 else -1) for b in range(2)] * 32
        for i in range(25):
            rows.append((c * 100 + i, [x + rnd.gauss(0, 0.4) for x in center[:64]]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = similarity.ivfpq_ann_topk(
        emb, [0, 100, 200, 300], k=10, n_centroids=8, n_probe=3, m=16, pq_k=8
    )
    by_q = {}
    for r in got.collect():
        by_q.setdefault(r["query_id"], []).append(r["neighbor_id"])
    for q in (0, 100, 200, 300):
        assert len(by_q[q]) == 10
        assert all(n // 100 == q // 100 for n in by_q[q]), (q, by_q[q])


def test_index_persistence_round_trip(spark, tmp_path):
    import pytest

    from esop_spark.operators import similarity as sim

    emb = spark.createDataFrame(
        [(i, [float((i * 7 + d) % 13) for d in range(8)]) for i in range(40)],
        "vec_id long, embedding array<float>",
    )
    cents = sim.kmeans_centroids(emb, n_centroids=4, max_iter=3)
    ivf_path = str(tmp_path / "ivf_idx")
    sim.save_ivf_index(spark, cents, ivf_path)
    loaded = sim.load_ivf_index(spark, ivf_path)
    assert loaded == [(c, [float(x) for x in v]) for c, v in sorted(cents)]

    books = sim.pq_train(emb, m=4, k=4, max_iter=2)
    pq_path = str(tmp_path / "pq_idx")
    sim.save_pq_codebooks(spark, books, pq_path)
    books2 = sim.load_pq_codebooks(spark, pq_path)
    assert len(books2) == len(books)
    for a, b in zip(books, books2):
        for va, vb in zip(a, b):
            assert va == pytest.approx(vb, abs=1e-12)


def test_cosine_pairs_guards_broadcast_size(spark):
    """cosine_pairs is the exact O(n²) small-corpus baseline: above
    max_rows it must refuse (pointing at the bucketed scale paths) instead
    of broadcasting an unbounded embedding table, and below the cap it
    must keep returning exact pairs."""
    import pytest

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    with pytest.raises(ValueError, match="semantic_dedup"):
        similarity.cosine_pairs(emb, max_rows=emb.count() - 1)
    # at/below the cap the exact path still runs
    out = similarity.cosine_pairs(emb, threshold=0.9, max_rows=emb.count())
    assert out.columns == ["id_a", "id_b", "cosine"]
    assert out.count() >= 0


def test_cosine_pairs_lsh_recall_and_precision(spark):
    """Banded-LSH pairs: precision 1.0 (every emitted pair's exact cosine
    clears the threshold — verified against the brute-force baseline) and
    high recall at the 8x3 default."""
    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    exact = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in similarity.cosine_pairs(emb, threshold=0.45).collect()
    }
    lsh = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in similarity.cosine_pairs_lsh(emb, threshold=0.45).collect()
    }
    assert set(lsh) <= set(exact)  # precision 1.0 (candidates verified)
    for pair, cos in lsh.items():
        assert cos == exact[pair]  # cosines are the exact values
    assert exact  # the corpus plants near-dup embeddings
    recall = len(lsh) / len(exact)
    assert recall >= 0.8, recall


def test_cosine_pairs_reroute_degrades_to_lsh(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    out = similarity.cosine_pairs(
        emb, threshold=0.45, max_rows=emb.count() - 1, reroute=True
    )
    assert out.columns == ["id_a", "id_b", "cosine"]
    lsh = {
        (r["id_a"], r["id_b"]) for r in out.collect()
    }
    direct = {
        (r["id_a"], r["id_b"])
        for r in similarity.cosine_pairs_lsh(emb, threshold=0.45).collect()
    }
    assert lsh == direct


def test_lsh_hot_buckets_split_not_dropped(spark):
    """The round-9 zero-output fix: when the corpus outgrows bucket-count ×
    max_bucket, oversized buckets must SPLIT (graceful recall) rather than
    drop (silent empty result). 400 seeded vectors with 4 planted
    near-dup pairs, max_bucket=20: every initial 4-plane bucket is hot
    (~100 members), so the old drop-based cap would emit NOTHING; the
    split path must keep precision 1.0 and find every planted
    high-similarity pair (p = 1 − θ/π ≈ 0.95 per extra plane at cosine
    0.99 — deep splits barely touch true near-dups; the whole pipeline is
    seeded/deterministic, so this is a fixed assertion, not a flaky
    probability)."""
    import random

    rnd = random.Random(7)
    dim = 16
    rows = []
    for i in range(400):
        rows.append((i, [rnd.gauss(0, 1) for _ in range(dim)]))
    for j in range(4):  # planted near-dups of existing vectors
        base = rows[j * 7][1]
        rows.append((1000 + j, [x + rnd.gauss(0, 0.02) for x in base]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    kw = dict(threshold=0.9, bands=4, band_planes=4, dim=dim, max_bucket=20)
    exact = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in similarity.cosine_pairs(emb, threshold=0.9).collect()
    }
    got = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in similarity.cosine_pairs_lsh(emb, **kw).collect()
    }
    assert set(got) <= set(exact)  # precision 1.0
    for pair, cos in got.items():
        assert cos == exact[pair]
    planted = {(j * 7, 1000 + j) for j in range(4)}
    assert planted <= set(exact)
    assert planted <= set(got), (planted - set(got), len(got))


def test_lsh_identical_blob_degrades_to_anchor_star(spark):
    """A bucket of IDENTICAL vectors never separates (every plane agrees),
    so after split_depth levels it must degrade to anchor-star candidates:
    exactly (min_id, other) edges, each exactly verified at cosine 1.0 —
    bounded output, connectivity preserved."""
    v = [1.0, 2.0, -0.5, 0.25] * 4
    emb = spark.createDataFrame(
        [(i, v) for i in range(30)], "vec_id long, embedding array<double>"
    )
    got = sorted(
        (r["id_a"], r["id_b"], r["cosine"])
        for r in similarity.cosine_pairs_lsh(
            emb, threshold=0.9, bands=2, band_planes=2, dim=16,
            max_bucket=5, split_depth=3,
        ).collect()
    )
    assert got == [(0, i, 1.0) for i in range(1, 30)]


def test_q301_oracle_corpus_has_no_hot_buckets(spark):
    """Oracle-parity PRECONDITION pin (round 10): the q301 DuckDB oracle
    replicates the plain banded join with a HAVING <= max_bucket tripwire,
    while the engine SPLITS over-cap buckets — semantics SQL does not
    express. The two agree iff the sf0.01 oracle corpus has no (band,
    bucket) group over the engine's cap of 200 (observed max 84). If data
    regeneration ever breaks this, the oracle must be re-derived (or the
    corpus re-shaped), not the cap slackened."""
    import pyspark.sql.functions as F

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    bb = similarity.banded_semantic_buckets(
        emb, 8, 3, 64, "hp", "embedding", "vec_id"
    )
    mx = (
        bb.groupBy("band", "bucket")
        .count()
        .agg(F.max("count").alias("mx"))
        .first()["mx"]
    )
    assert mx <= 200, f"sf0.01 grew a hot bucket ({mx} > 200): q301 oracle invalid"


def test_split_final_level_fitting_groups_enumerate(spark):
    """Groups whose size first fits at the FINAL split level must exit into
    the enumeration parts, not be star-degraded with the blob residual
    (round-10 ADVICE fix). Probed by running the split once with slack
    depth to learn the natural convergence depth d, then re-running with
    split_depth exactly d: the trailing partition must see no hot groups
    and return residual=None with full membership preserved."""
    import random

    from esop_spark.operators.similarity import (
        _split_hot_buckets,
        banded_semantic_buckets,
    )

    rnd = random.Random(11)
    dim = 16
    emb = spark.createDataFrame(
        [(i, [rnd.gauss(0, 1) for _ in range(dim)]) for i in range(300)],
        "vec_id long, embedding array<double>",
    )
    bb = banded_semantic_buckets(emb, 2, 2, dim, "hp", "embedding", "vec_id")
    n_bb = bb.count()
    args = (bb, emb, 2, 2, dim, "hp", "embedding", "vec_id", 20)
    parts, residual = _split_hot_buckets(*args, 16)
    assert residual is None
    d = len(parts) - 1  # early return at depth d => d actual splits
    assert d >= 1, "corpus did not exercise splitting; shrink max_bucket"
    parts2, residual2 = _split_hot_buckets(*args, d)
    assert residual2 is None, "final-level fitting groups were star-degraded"
    total = 0
    for p in parts2:
        total += p.count()
    assert total == n_bb


def test_split_depth_zero_is_cap_without_split(spark):
    """split_depth=0 must not crash (round-10 ADVICE: parts[0] IndexError)
    and means 'no splitting': under-cap buckets enumerate pairwise,
    over-cap buckets go straight to the anchor-star residual."""
    v = [1.0, 2.0, -0.5, 0.25] * 4
    rows = [(i, v) for i in range(30)]  # one over-cap identical blob
    w = [0.9, -1.3, 2.0, 0.1] * 4
    rows += [(100, w), (101, [x * 1.0001 for x in w])]  # small under-cap pair
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = sorted(
        (r["id_a"], r["id_b"], r["cosine"])
        for r in similarity.cosine_pairs_lsh(
            emb, threshold=0.9, bands=2, band_planes=2, dim=16,
            max_bucket=5, split_depth=0,
        ).collect()
    )
    assert (100, 101, 1.0) in got  # under-cap bucket enumerated
    blob = [(a, b, c) for a, b, c in got if a < 100]
    assert blob == [(0, i, 1.0) for i in range(1, 30)]  # star, not dropped
