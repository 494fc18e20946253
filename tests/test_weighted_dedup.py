"""Weighted (tf-multiset) Jaccard dedup family + densest-subgraph peel.

The weighted family exists for bounded-vocabulary corpora where SET overlap
saturates (every doc shares most distinct terms) but term FREQUENCIES still
separate true rewrites from background — dedup.weighted_jaccard_pairs is the
guarded exact baseline, dedup.weighted_minhash_lsh_pairs the banded scale
path (integer-replication reduction to ordinary MinHash).
"""

import pytest

from esop_spark.operators import dedup, graph


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


@pytest.mark.parametrize("tau", [1e-5, 1e-4, 5e-4, 0.5, 0.9])
def test_weighted_jaccard_prune_floor_keeps_rounding_slack(tau):
    # a true pair's unrounded J_w can sit at tau - 5e-7 (the final filter
    # rounds to 6 places): both prunes must compare against a floor that
    # never exceeds it, at tiny thresholds too
    floor = dedup._wj_prune_floor(tau)
    assert floor <= tau - 5e-7
    assert floor >= tau * 0.999 - 1e-6  # still a tight prune


def test_weighted_jaccard_separates_tf_profiles(spark):
    # identical WORD SETS everywhere — set jaccard is 1.0 for every pair —
    # but only (0,1) share a tf profile; weighted jaccard must separate.
    a = "x " * 8 + "y " * 2 + "z"  # tf x=8 y=2 z=1
    b = "x " * 8 + "y " * 2 + "z"  # identical profile
    c = "x " * 1 + "y " * 9 + "z"  # same set, inverted profile
    docs = _docs(spark, [(0, a.strip()), (1, b.strip()), (2, c.strip())])
    got = {
        (r["id_a"], r["id_b"]): r["wjaccard"]
        for r in dedup.weighted_jaccard_pairs(docs, threshold=0.8).collect()
    }
    assert set(got) == {(0, 1)}
    assert got[(0, 1)] == 1.0
    # sanity: the set measure can't see the difference
    set_pairs = dedup.ngram_jaccard_pairs(docs, n=1, threshold=0.99).collect()
    assert len(set_pairs) == 3  # all pairs "identical" to a set measure


def test_weighted_jaccard_exact_value(spark):
    # A: a×3 b×1; B: a×2 b×2 → Σmin = 2+1 = 3, Σmax = 3+2 = 5 → 0.6
    docs = _docs(spark, [(0, "a a a b"), (1, "a a b b")])
    rows = dedup.weighted_jaccard_pairs(docs, threshold=0.5).collect()
    assert [(r["id_a"], r["id_b"], r["wjaccard"]) for r in rows] == [(0, 1, 0.6)]


def test_weighted_jaccard_mass_band_boundary(spark):
    """A qualifying pair whose masses sit EXACTLY at ratio = threshold
    (40 vs 50 at τ=0.8, smaller doc elementwise ≤ larger) exercises the
    float-slop mass-ratio prune inside the join condition — 0.8·50 rounds
    ABOVE 40 in float, so without the 0.999 slop the prune would drop a
    pair whose rounded J_w passes the authoritative threshold filter."""
    small = " ".join(["w"] * 40)               # mass 40, tf w=40
    large = " ".join(["w"] * 40 + ["v"] * 10)  # mass 50: Σmin=40 Σmax=50
    docs = _docs(spark, [(0, small), (1, large), (2, " ".join(["q"] * 45))])
    rows = dedup.weighted_jaccard_pairs(docs, threshold=0.8).collect()
    assert [(r["id_a"], r["id_b"], r["wjaccard"]) for r in rows] == [(0, 1, 0.8)]


def test_weighted_jaccard_guard_raises_and_reroutes(spark):
    docs = _docs(spark, [(i, "a b c") for i in range(30)])
    with pytest.raises(ValueError, match="weighted_minhash_lsh_pairs"):
        dedup.weighted_jaccard_pairs(docs, max_rows=10)
    # reroute degrades to the banded path: same schema, still finds the dups
    out = dedup.weighted_jaccard_pairs(docs, max_rows=10, reroute=True)
    assert out.columns == ["id_a", "id_b", "wjaccard"]
    assert out.count() > 0  # 30 identical docs: plenty of pairs survive


def test_weighted_jaccard_cells_guard(spark):
    """The row and vocab guards are individually satisfiable but jointly
    unsafe (500k × 4096 dense ints ≈ 8 GB broadcast): the PRODUCT guard
    must fire even when both individual guards pass, and reroute must
    degrade to the banded path as usual."""
    docs = _docs(
        spark, [(i, " ".join(f"w{j}" for j in range(12))) for i in range(20)]
    )
    with pytest.raises(ValueError, match="max_cells"):
        dedup.weighted_jaccard_pairs(docs, max_cells=100)
    out = dedup.weighted_jaccard_pairs(docs, max_cells=100, reroute=True)
    assert out.columns == ["id_a", "id_b", "wjaccard"]
    assert out.count() > 0  # 20 identical docs: the banded path finds pairs
    dedup.release_shared_relations()


def test_densest_subgraph_empty_edges(spark):
    """Zero edges: no round is ever a candidate (nv == 0 on round 0); the
    peel must return the same EMPTY relation the SQL oracle produces (its
    best CTE has no nv > 0 row) instead of crashing on a None best."""
    out = graph.densest_subgraph_peel(
        spark.createDataFrame([], "src long, dst long"), eps=0.5, rounds=8
    )
    assert [(f.name, f.dataType.simpleString()) for f in out.schema.fields] == [
        ("node", "bigint"), ("degree", "bigint"), ("density", "double")
    ]
    assert out.count() == 0


def test_weighted_minhash_matches_exact_on_planted_dups(spark):
    # near-identical tf profiles (one swap) + shuffled-background docs over
    # the SAME vocabulary: LSH must find the planted pair with the same
    # wjaccard the exact path reports (tf ≤ cap → capping is a no-op)
    base = "x " * 6 + "y " * 3 + "z " * 1
    near = "x " * 6 + "y " * 2 + "z " * 2
    rows = [(0, base.strip()), (1, near.strip())] + [
        (i, ("x " * (i % 3 + 1) + "y " * 5 + "z " * 4).strip())
        for i in range(2, 30)
    ]
    docs = _docs(spark, rows)
    exact = {
        (r["id_a"], r["id_b"]): r["wjaccard"]
        for r in dedup.weighted_jaccard_pairs(docs, threshold=0.8).collect()
    }
    lsh = {
        (r["id_a"], r["id_b"]): r["wjaccard"]
        for r in dedup.weighted_minhash_lsh_pairs(docs, threshold=0.8).collect()
    }
    dedup.release_shared_relations()
    assert (0, 1) in exact and (0, 1) in lsh
    assert lsh[(0, 1)] == exact[(0, 1)]
    # verification is exact → no false positives relative to the exact set
    assert set(lsh) <= set(exact)


def test_weighted_minhash_tf_cap_is_the_declared_semantics(spark):
    # tf above the cap carries no signal: w×20 vs w×10 is capped to equal
    # element sets (tf_cap=10) → wjaccard 1.0, not the uncapped 0.5
    docs = _docs(spark, [(0, " ".join(["w"] * 20)), (1, " ".join(["w"] * 10))])
    rows = dedup.weighted_minhash_lsh_pairs(docs, threshold=0.8, tf_cap=10).collect()
    dedup.release_shared_relations()
    assert [(r["id_a"], r["id_b"], r["wjaccard"]) for r in rows] == [(0, 1, 1.0)]


def test_word_tf_counts(spark):
    docs = _docs(spark, [(0, "a b a")])
    got = sorted(
        (r["term"], r["tf"]) for r in dedup.word_tf(docs).collect()
    )
    assert got == [("a", 2), ("b", 1)]


def _edge_df(spark, pairs):
    return spark.createDataFrame(pairs, "src long, dst long")


def test_densest_subgraph_recovers_planted_clique(spark):
    # K6 clique (density 15/6 = 2.5) + a long path (density → 1/2 per node):
    # average-degree peeling must strip the path and keep exactly the clique
    clique = [(i, j) for i in range(6) for j in range(i + 1, 6)]
    path = [(100 + i, 101 + i) for i in range(40)]
    out = graph.densest_subgraph_peel(
        _edge_df(spark, clique + path), eps=0.5, rounds=8
    ).collect()
    dedup.release_shared_relations()
    assert sorted(r["node"] for r in out) == [0, 1, 2, 3, 4, 5]
    assert all(r["degree"] == 5 for r in out)
    assert all(r["density"] == 2.5 for r in out)


def test_densest_subgraph_matches_unrolled_sql(spark):
    """Engine parity on a nontrivial peel (clique + noise): the Spark loop
    and the unrolled DuckDB chain must agree row-for-row, including the
    best-round tiebreak and double-precision density."""
    import duckdb

    edges = [(i, j) for i in range(5) for j in range(i + 1, 5)]  # K5
    edges += [(10 + i, 11 + i) for i in range(12)]  # path noise
    edges += [(0, 10), (1, 14)]  # attach noise to the core
    sdf = _edge_df(spark, edges)
    got = sorted(
        tuple(r)
        for r in graph.densest_subgraph_peel(sdf, eps=0.5, rounds=8).collect()
    )
    dedup.release_shared_relations()
    con = duckdb.connect()
    con.execute("CREATE TABLE eu (src BIGINT, dst BIGINT)")
    con.executemany("INSERT INTO eu VALUES (?, ?)", edges)
    want = sorted(
        tuple(r)
        for r in con.execute(
            "WITH " + graph.densest_sql("eu", 0.5, 8)
        ).fetchall()
    )
    assert got == want


def test_densest_subgraph_round_cap_parity(spark):
    """With rounds too small to drain, both engines stop at the SAME round
    and report the best density seen so far — undrained ≠ mismatched."""
    import duckdb

    edges = [(i, j) for i in range(5) for j in range(i + 1, 5)]
    edges += [(20 + i, 21 + i) for i in range(12)]
    sdf = _edge_df(spark, edges)
    got = sorted(
        tuple(r)
        for r in graph.densest_subgraph_peel(sdf, eps=0.5, rounds=1).collect()
    )
    dedup.release_shared_relations()
    con = duckdb.connect()
    con.execute("CREATE TABLE eu (src BIGINT, dst BIGINT)")
    con.executemany("INSERT INTO eu VALUES (?, ?)", edges)
    want = sorted(
        tuple(r)
        for r in con.execute(
            "WITH " + graph.densest_sql("eu", 0.5, 1)
        ).fetchall()
    )
    assert got == want


def test_weighted_jaccard_matches_bruteforce_reference(spark):
    """Seeded random corpus vs a pure-Python brute-force computation of
    Σmin/Σmax — the operator's join/fold/round pipeline must reproduce
    every pair and value exactly (the randomized analogue of the DuckDB
    oracle, with no SQL engine in the loop)."""
    import random
    from collections import Counter

    rnd = random.Random(77)
    vocab = [f"t{i}" for i in range(7)]
    docs = [
        (i, " ".join(rnd.choice(vocab) for _ in range(rnd.randint(5, 25))))
        for i in range(40)
    ]
    tau = 0.5
    want = {}
    for i, (ida, ta) in enumerate(docs):
        ca = Counter(ta.split(" "))
        for idb, tb in docs[i + 1:]:
            cb = Counter(tb.split(" "))
            smin = sum(min(ca[t], cb[t]) for t in ca)
            smax = sum(ca.values()) + sum(cb.values()) - smin
            j = round(smin / smax, 6)
            if j >= tau:
                want[(ida, idb)] = j
    got = {
        (r["id_a"], r["id_b"]): r["wjaccard"]
        for r in dedup.weighted_jaccard_pairs(
            _docs(spark, docs), threshold=tau
        ).collect()
    }
    assert got == want
    assert len(want) >= 5  # the seed must actually exercise the threshold


def test_densest_subgraph_matches_bruteforce_reference(spark):
    """Seeded random graph vs a pure-Python peel: same rounds, same
    threshold arithmetic, same best-round tiebreak — node set, degrees,
    and density must agree exactly."""
    import random
    from collections import Counter

    rnd = random.Random(42)
    edges = sorted({
        (min(a, b), max(a, b))
        for a, b in (
            (rnd.randrange(30), rnd.randrange(30)) for _ in range(120)
        )
        if a != b
    })
    eps, rounds = 0.5, 8
    cur = [e for e in edges]
    best, best_density = None, float("-inf")
    for r in range(rounds + 1):
        deg = Counter()
        for a, b in cur:
            deg[a] += 1
            deg[b] += 1
        nv, ne2 = len(deg), sum(deg.values())
        if not nv:
            break
        density = (ne2 / 2.0) / nv
        if density > best_density:
            best, best_density = (cur, deg), density
        if r == rounds:
            break
        thr = ((1.0 + eps) * ne2) / nv
        keep = {u for u, d in deg.items() if d > thr}
        cur = [(a, b) for a, b in cur if a in keep and b in keep]
    want = sorted(
        (u, d, best_density) for u, d in best[1].items()
    )
    got = sorted(
        tuple(r)
        for r in graph.densest_subgraph_peel(
            _edge_df(spark, edges), eps=eps, rounds=rounds
        ).collect()
    )
    dedup.release_shared_relations()
    assert got == want
