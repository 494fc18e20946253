"""Distributed graph operators over DataFrame edge relations.

The reference's near-dup clustering already required one graph algorithm:
connected components, which lives here as :func:`connected_components` and
backs ``dedup.dedup_clusters``. This module adds the two other graph
primitives a corpus/curation pipeline reaches for:

- ``pagerank`` — importance scores over a directed edge relation (link-graph
  weighting of web-crawl sources, citation-style doc ranking).  Fixed
  iteration count, exact integer arithmetic (rank carried in nano units,
  contributions via integer division) so Spark and any ANSI-SQL oracle
  compute bit-identical ranks regardless of partitioning or summation order.
- ``triangle_count`` — global triangle/wedge census and clustering
  coefficient via the degree-oriented node-iterator join (each edge is
  directed from its lower-degree endpoint, which bounds the path-join fanout
  by O(m^1.5) total instead of sum(deg^2) on hubs — the standard
  MapReduce/GraphX construction).

Scale notes (100 TB): pagerank is |iters| rounds of (edge ⨝ rank) + one
aggregation per round — both shuffles are on the node key and AQE handles
skewed in-degree; no driver-side state beyond the loop counter.  The
triangle join's worst case is governed by the degree orientation: every
wedge is generated exactly once at its lowest-degree apex.

Reference parity: generalizes the membership/refcount joins of
``impl/Manifest.java:407-484`` (J4/J5) from bipartite file↔backup incidence
to arbitrary graphs, the same way connected_components generalized
cross-backup identity.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, functions as F
from pyspark.storagelevel import StorageLevel

from esop_spark.operators.iterate import RoundCheckpointer, share_relation

RANK_ONE = 1_000_000_000  # 1.0 in nano units


def _symmetrize(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Both orientations of an edge relation in ONE pass: explode each row
    into (src, dst) and (dst, src). Row multiset is identical to
    ``e.union(e.reversed)``, so every downstream distinct/agg is unchanged.

    Round 11 A/B: used where the symmetrized relation flows into a
    SHUFFLE next (connected_components' adjacency agg, adamic-adar's
    degree agg over an already-persisted input) — there the single pass
    saves one evaluation of the reduce-side work above the union's
    reusable exchanges at no parallelism cost. NOT used where the union
    feeds an eager checkpoint directly (kcore_peel /
    densest_subgraph_peel): measured slower there (q305 3.4/3.5 →
    4.9/3.9 min-of-5) — the union's two branches materialize with twice
    the task parallelism while AQE exchange reuse already shares the map
    side beneath them."""
    return edges.select(
        F.explode(
            F.array(
                F.struct(
                    F.col(src).alias("src"), F.col(dst).alias("dst")
                ),
                F.struct(
                    F.col(dst).alias("src"), F.col(src).alias("dst")
                ),
            )
        ).alias("_e")
    ).select("_e.src", "_e.dst")


def coorder_edges(lineitem: DataFrame, directed: bool = True) -> DataFrame:
    """Part co-purchase edge relation: (src, dst) part keys that appear in
    the same order, deduplicated.  ``directed=True`` emits both directions
    (the symmetric digraph pagerank runs on); ``directed=False`` emits each
    undirected edge once as src < dst (triangle input).

    One self-join on the order key; per-order fanout is bounded by order
    size (≤7 lineitems in TPC-H-shaped data), so the pair explode scales
    linearly with orders.

    Round-11 A/B note: a collect_set + in-task pair-explode derivation
    (one hash agg, no join) was MEASURED SLOWER at sf0.1 (q159 2.5 → 3.3+
    s, q262 2.9 → 3.3, q233 2.4 → 2.8, q166 4.7 → 4.9) and reverted.
    This shape is already exchange-minimal at runtime: the self-join on
    ``ok`` reuses dropDuplicates' hash partitioning (zero extra Exchange),
    so the plan is two corpus-shaped shuffles — the same count the
    aggregation form pays, without ObjectHashAggregate's per-row set cost
    or the directed mirror's double evaluation of an unpersisted subtree.
    """
    sides = lineitem.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk")
    ).dropDuplicates(["ok", "pk"])
    a = sides.alias("a")
    b = sides.alias("b")
    cond = (F.col("a.ok") == F.col("b.ok")) & (
        (F.col("a.pk") < F.col("b.pk"))
        if not directed
        else (F.col("a.pk") != F.col("b.pk"))
    )
    return (
        a.join(b, cond)
        .select(F.col("a.pk").alias("src"), F.col("b.pk").alias("dst"))
        .dropDuplicates(["src", "dst"])
    )


def pagerank(
    edges: DataFrame, iterations: int = 3, damping_pct: int = 85
) -> DataFrame:
    """Integer-exact PageRank over a directed ``(src, dst)`` edge relation.

    Every node starts at rank 1.0 (1e9 nanos); each round every node sends
    ``rank div out_degree`` nanos along each out-edge and is reset to
    ``(100-d) + d * inflow`` (integer div by 100).  Dangling nodes don't
    occur for symmetric edge relations (every node listed as src has
    out-degree ≥ 1); nodes never appearing as src are excluded by
    construction, matching the unrolled-CTE oracle.

    Returns ``(node, rank_nano, out_deg)``.  All arithmetic is integer, so
    the result is independent of partitioning, join order, and summation
    order — hash-comparable across engines.

    The edge relation is persisted for the loop: it is consumed once for
    degrees and once per iteration, and recomputing a self-join-derived
    edge list ``iterations+1`` times dominated the measured runtime.
    """
    edges = share_relation(edges)
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("out_deg"))
    nodes = deg.select(F.col("src").alias("node"), "out_deg")
    nodes = share_relation(nodes)  # joined against the contributions every round
    ranks = nodes.withColumn("rank_nano", F.lit(RANK_ONE).cast("bigint"))
    base = (100 - damping_pct) * RANK_ONE
    for _ in range(iterations):
        contrib = (
            edges.join(
                ranks.select(
                    F.col("node").alias("src"), "rank_nano", "out_deg"
                ),
                "src",
            )
            .select(
                F.col("dst").alias("node"),
                F.expr("rank_nano div out_deg").alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").alias("inflow"))
        )
        ranks = (
            nodes.join(contrib, "node", "left")
            .select(
                "node",
                "out_deg",
                F.expr(
                    f"({base} + {damping_pct} * coalesce(inflow, 0)) div 100"
                )
                .cast("bigint")
                .alias("rank_nano"),
            )
        )
    return ranks.select("node", "rank_nano", "out_deg")


def pagerank_topk(
    edges: DataFrame, k: int = 20, iterations: int = 3, damping_pct: int = 85
) -> DataFrame:
    """Top-k nodes by PageRank, node key as the deterministic tiebreak.
    TakeOrderedAndProject — no global sort materialization."""
    r = pagerank(edges, iterations=iterations, damping_pct=damping_pct)
    return r.orderBy(F.desc("rank_nano"), F.asc("node")).limit(k)


def triangle_count(edges_undirected: DataFrame) -> DataFrame:
    """Global triangle census over an undirected ``(src, dst)`` edge
    relation (each edge once, src < dst).

    Degree-oriented node-iterator: orient every edge from its lower-degree
    endpoint (ties broken by node id), then join wedges ``u→v, u→w`` with
    the oriented edge ``v→w``.  Each triangle is produced exactly once (at
    its minimum-degree vertex), and per-node wedge fanout is bounded by the
    oriented out-degree, which is O(sqrt(m)) — the hub-proof construction.

    Returns one row: ``(n_nodes, n_edges, n_wedges, n_triangles,
    global_clustering_ppm)`` where clustering = 3·triangles/wedges (wedges
    counted on the UNDIRECTED degree: sum over v of deg·(deg−1)/2).
    """
    # persisted: consumed by the degree census, the orientation join, and
    # the wedge-closing join — three downstream legs of one self-join-
    # derived relation (same rule as pagerank's loop persist).
    edges_undirected = share_relation(edges_undirected)
    sym = edges_undirected.select("src", "dst").union(
        edges_undirected.select(
            F.col("dst").alias("src"), F.col("src").alias("dst")
        )
    )
    deg = share_relation(sym.groupBy("src").agg(F.count(F.lit(1)).alias("deg")))

    # orient: keep (u, v) iff (deg(u), u) < (deg(v), v)
    du = deg.select(F.col("src").alias("u"), F.col("deg").alias("du"))
    dv = deg.select(F.col("src").alias("v"), F.col("deg").alias("dv"))
    oriented = (
        edges_undirected.select(
            F.col("src").alias("u"), F.col("dst").alias("v")
        )
        .join(du, "u")
        .join(dv, "v")
        .select(
            F.when(
                (F.col("du") < F.col("dv"))
                | ((F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))),
                F.struct(F.col("u").alias("a"), F.col("v").alias("b")),
            )
            .otherwise(
                F.struct(F.col("v").alias("a"), F.col("u").alias("b"))
            )
            .alias("e")
        )
        .select(F.col("e.a").alias("lo"), F.col("e.b").alias("hi"))
    )
    oriented = share_relation(oriented)  # both wedge legs read it

    w1 = oriented.select(F.col("lo").alias("apex"), F.col("hi").alias("v"))
    w2 = oriented.select(F.col("lo").alias("apex"), F.col("hi").alias("w"))
    wedge = w1.join(w2, "apex").filter(F.col("v") < F.col("w"))
    # close the wedge against the undirected edge set (canonical src < dst —
    # exactly the wedge's (v, w) ordering); each triangle closes exactly once
    # because its apex is uniquely the minimum-(deg, id) vertex.
    closing = edges_undirected.select(
        F.col("src").alias("v"), F.col("dst").alias("w")
    )
    tri = wedge.join(closing, ["v", "w"]).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_triangles")
    )

    stats = (
        deg.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
            (F.sum("deg") / 2).cast("bigint").alias("n_edges"),
            F.sum(F.expr("deg * (deg - 1) div 2"))
            .cast("bigint")
            .alias("n_wedges"),
        )
    )
    return stats.crossJoin(tri).select(
        "n_nodes",
        "n_edges",
        "n_wedges",
        "n_triangles",
        F.expr("(3 * n_triangles * 1000000) div n_wedges")
        .cast("bigint")
        .alias("global_clustering_ppm"),
    )


def _checkpoint_counting_changed(
    ckpt: RoundCheckpointer, state: DataFrame
) -> tuple[DataFrame, int]:
    """Eagerly checkpoint one vertex-state round and return it with its
    number of ``changed`` rows. The count rides on the checkpoint's own
    job as an observed metric, so convergence costs no extra job."""
    obs = Observation()
    out = ckpt.checkpoint(state.observe(obs, F.count_if("changed").alias("n")))
    return out, obs.get["n"]


def _contract_locally(edges: DataFrame) -> DataFrame:
    """Each partition's edges merged by a local union-find: one
    ``mapInArrow`` over ``(src, dst)`` as the relation is already
    partitioned, so no exchange is added.

    A partition links every node to the smallest key of its local
    component and emits ``(v, root)`` for each node ``v`` that is not its
    root, plus ``(v, v)`` for a node whose only edges are self-loops, so no
    node drops out and a partition never emits more rows than it read.
    Edges with a null endpoint pass through unchanged. The output has the
    input's nodes and connectivity, so the minimum of each component is
    unchanged; the root choice only decides how far labels still travel.
    Keys are cast to the type :func:`_symmetrize` gives both endpoints."""
    key = _symmetrize(edges).schema["src"].dataType
    pairs = edges.select(F.col("src").cast(key), F.col("dst").cast(key))

    def contract(batches):
        import pyarrow as pa
        import pyarrow.compute as pc

        parent = {}

        def find(v):
            root = v
            while parent[root] != root:
                root = parent[root]
            while parent[v] != root:
                parent[v], v = root, parent[v]
            return root

        for b in batches:
            schema = b.schema
            ok = pc.and_(b.column(0).is_valid(), b.column(1).is_valid())
            if not pc.all(ok).as_py():
                yield b.filter(pc.invert(ok))
                b = b.filter(ok)
            for u, v in zip(b.column(0).to_pylist(), b.column(1).to_pylist()):
                ru = find(parent.setdefault(u, u))
                rv = find(parent.setdefault(v, v))
                if ru != rv:
                    parent[max(ru, rv)] = min(ru, rv)
        src, dst, rooted = [], [], set()
        for v in parent:
            r = find(v)
            if r != v:
                src.append(v)
                dst.append(r)
                rooted.add(r)
        for v, r in parent.items():
            if r == v and v not in rooted:  # only self-loops
                src.append(v)
                dst.append(v)
        if src:
            yield pa.RecordBatch.from_arrays(
                [pa.array(src, schema.field(0).type),
                 pa.array(dst, schema.field(1).type)],
                schema=schema,
            )

    return pairs.mapInArrow(contract, pairs.schema)


def connected_components(edges: DataFrame, max_iters: int = 50) -> DataFrame:
    """Connected components over a ``(src, dst)`` edge relation with keys
    of any orderable type (bigint doc ids in :func:`dedup.dedup_clusters`,
    strings in the PMI term graph). Duplicate edges, both orientations and
    self-loops are all allowed.

    Local contraction first (Łącki et al. 2018; Kiveris et al. 2014):
    :func:`_contract_locally` merges each partition's edges with a
    union-find and hands the loop a star per local component. This is the
    second place Python touches the data (after multimodal decode): one
    Arrow pass per partition, with no per-row Python call, and it replaces
    Spark rounds — when the edges sit in one partition it solves the
    graph outright and the loop runs no round.
    Memory per partition is one dict entry per distinct node. One
    original edge becomes at most two hops (both endpoints point at their
    root), so in the worst case a graph that converges today in 25 rounds
    could need up to 50 (``max_iters``).

    Then vertex-centric min-label propagation (Pregel-style messages with
    semi-naive evaluation). The state is ONE checkpointed vertex relation
    ``(node, label, nbrs, changed)``:

    - built by a single ``groupBy(src).agg(collect_set(dst))`` over the
      symmetrized edges, with ``label = least(node, array_min(nbrs))``:
      every node starts at the minimum of its closed neighbourhood, which
      already spends the first propagation hop;
    - ``changed`` marks the nodes whose label a neighbour may not have
      seen yet. Initially that is ``label < node`` and a neighbour other
      than the label's own node: a node labelled with its own key is a
      local minimum, and every neighbour already took it into account
      when its own label was built; the node the label came from holds a
      label no larger. A contracted star therefore starts settled.

    Each round is one union and one ``groupBy(node)``, i.e. one exchange:
    self rows carry ``nbrs`` and the old label, and every changed node
    explodes ``nbrs`` into ``(neighbour, label)`` messages. The group
    takes ``min(label)`` and sets ``changed = new < old``; only changed
    nodes send next round. The number of changed rows is observed on the
    round's eager ``localCheckpoint`` itself, so a round costs one
    exchange and no separate convergence job. The loop stops when no
    label changed, or after ``max_iters`` rounds (labels are then the
    minimum within ``max_iters + 1`` hops of the contracted graph).
    Superseded rounds' checkpoint blocks are released as soon as the next
    round is materialized, and the final round is handed to the shared
    registry because the returned frame reads it lazily.

    Returns ``(node, cluster_id, cluster_size)`` with cluster_id = the
    minimum node key in the component.
    """
    labels = _component_labels(edges, max_iters)
    return labels.join(_component_sizes(labels), "label").select(
        "node", F.col("label").alias("cluster_id"), "cluster_size"
    )


def _component_labels(edges: DataFrame, max_iters: int) -> DataFrame:
    """The ``(node, label)`` relation of :func:`connected_components`."""
    ckpt = RoundCheckpointer(edges)
    adj = (
        _symmetrize(_contract_locally(edges))
        .groupBy(F.col("src").alias("node"))
        .agg(F.collect_set("dst").alias("nbrs"))
    )
    node = F.col("node")
    label = F.least(node, F.array_min("nbrs"))
    tells = F.exists("nbrs", lambda u: (u != label) & (u != node))
    state, n_changed = _checkpoint_counting_changed(
        ckpt,
        adj.select(
            "node", label.alias("label"), "nbrs",
            ((label < node) & tells).alias("changed"),
        ),
    )
    for _ in range(max_iters):
        if n_changed == 0:
            break
        own = state.select("node", "label", "nbrs", F.col("label").alias("old"))
        msgs = state.filter("changed").select(
            F.explode("nbrs").alias("node"), "label"
        )
        nxt = (
            own.unionByName(msgs, allowMissingColumns=True)
            .groupBy("node")
            .agg(
                F.min("label").alias("label"),
                F.first("nbrs", ignorenulls=True).alias("nbrs"),
                F.min("old").alias("old"),
            )
            .select(
                "node", "label", "nbrs",
                (F.col("label") < F.col("old")).alias("changed"),
            )
        )
        prev = state
        state, n_changed = _checkpoint_counting_changed(ckpt, nxt)
        ckpt.release(prev)
    ckpt.disown_to_shared(state)  # the returned frame reads it lazily
    return state.select("node", "label")


def _component_sizes(labels: DataFrame) -> DataFrame:
    return labels.groupBy("label").agg(
        F.count(F.lit(1)).cast("bigint").alias("cluster_size")
    )


def degree_assortativity(edges_directed: DataFrame) -> DataFrame:
    """Degree assortativity of the (symmetric) co-order graph: the Pearson
    correlation between source and destination degree across edges — do
    hubs connect to hubs (assortative, r>0, a "rich club" of catalog
    staples) or to the periphery (disassortative, r<0)? The one-number
    topology fingerprint behind q159's ranks and q166's triangles.

    One degree aggregation (node grain), two broadcast-or-SMJ joins back
    onto the edge relation (uniform part keys), then exact DECIMAL(38)
    integer moments on the edge grain — degree products reach deg²·|E|
    and overflow int64 at scale. Output one row:
    (n_edges, n_nodes, assortativity)."""
    # Round 11 (guide §1.2/§5): persist input and degree census — the
    # plan consumes the (typically unpersisted self-join) edge relation
    # four times (degree census feeding both join legs + the node count,
    # plus the edge grain itself).
    edges_directed = share_relation(edges_directed)
    deg = share_relation(
        edges_directed.groupBy("src").agg(
            F.count(F.lit(1)).cast("bigint").alias("d")
        )
    )
    da = deg.select(F.col("src").alias("a"), F.col("d").alias("dx"))
    db = deg.select(F.col("src").alias("b"), F.col("d").alias("dy"))
    d38 = "decimal(38,0)"
    ed = (
        edges_directed.join(da, edges_directed["src"] == da["a"])
        .join(db, edges_directed["dst"] == db["b"])
        .select(
            F.col("dx").cast(d38).alias("x"),
            F.col("dy").cast(d38).alias("y"),
        )
    )
    agg = ed.agg(
        F.count(F.lit(1)).cast(d38).alias("m"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    nodes = deg.agg(F.count(F.lit(1)).cast("bigint").alias("n_nodes"))
    num = F.col("m") * F.col("sxy") - F.col("sx") * F.col("sy")
    dx = F.col("m") * F.col("sxx") - F.col("sx") * F.col("sx")
    dy = F.col("m") * F.col("syy") - F.col("sy") * F.col("sy")
    return agg.crossJoin(F.broadcast(nodes)).select(
        F.col("m").cast("bigint").alias("n_edges"),
        "n_nodes",
        F.round(
            F.when(
                (dx > 0) & (dy > 0),
                num.cast("double")
                / (F.sqrt(dx.cast("double")) * F.sqrt(dy.cast("double"))),
            ),
            6,
        ).alias("assortativity"),
    )


def adamic_adar_topk(
    edges_undirected: DataFrame,
    k: int = 50,
    max_apex_degree: int = 64,
) -> DataFrame:
    """Adamic–Adar link prediction over an undirected ``(src, dst)`` edge
    relation (each edge once, src < dst): for every non-adjacent pair with
    at least one common neighbor, AA(v, w) = Σ_{u ∈ Γ(v)∩Γ(w)} 1/ln(deg u);
    return the top-k candidate links. The classic "who should be connected"
    score — common neighbors, discounted by how promiscuous each shared
    neighbor is.

    Scale shape: wedges are enumerated at their apex (the shared neighbor),
    so fanout is Σ deg(u)² — a hub is quadratic. ``max_apex_degree`` drops
    hub apexes before the self-join (their per-wedge contribution
    1/ln(deg) is the smallest anyway, the standard AA truncation), which
    bounds fanout by |edges|·max_apex_degree. The wedge agg shuffles on the
    candidate pair key; existing edges leave via a LEFT ANTI on the same
    key; TakeOrdered caps the head at k rows.

    Cross-engine determinism: each apex contributes the exact bigint
    round(1e9/ln(deg)) — integer sums are order-independent — and the
    reported score is round(Σ/1e9, 6); ties break on (src, dst).
    """
    # Round 11 (guide §1.2/§5): persist the derived edge relation and the
    # apex-filtered adjacency — edges_undirected is typically an
    # unpersisted corpus self-join, and this plan consumes it FIVE times
    # (degree census, two wedge legs, anti-join); adj twice (wedge legs).
    edges_undirected = share_relation(edges_undirected)
    both = _symmetrize(edges_undirected)
    deg = both.groupBy(F.col("src").alias("u")).agg(
        F.count(F.lit(1)).cast("bigint").alias("deg")
    )
    adj = share_relation(
        both.join(deg, both["src"] == deg["u"])
        .filter((F.col("deg") <= max_apex_degree) & (F.col("deg") >= 2))
        .select(
            F.col("src").alias("apex"),
            F.col("dst").alias("nbr"),
            F.round(F.lit(1e9) / F.log(F.col("deg").cast("double")))
            .cast("bigint")
            .alias("w_nano"),
        )
    )
    a = adj.alias("a")
    b = adj.alias("b")
    wedges = a.join(
        b,
        (F.col("a.apex") == F.col("b.apex"))
        & (F.col("a.nbr") < F.col("b.nbr")),
    ).select(
        F.col("a.nbr").alias("src"),
        F.col("b.nbr").alias("dst"),
        F.col("a.w_nano").alias("w_nano"),
    )
    scores = wedges.groupBy("src", "dst").agg(
        F.sum("w_nano").alias("aa_nano"),
        F.count(F.lit(1)).cast("bigint").alias("common_neighbors"),
    )
    candidates = scores.join(
        edges_undirected.select("src", "dst"), ["src", "dst"], "left_anti"
    )
    return (
        candidates.select(
            "src",
            "dst",
            "common_neighbors",
            F.round(F.col("aa_nano") / F.lit(1e9), 6).alias("aa_score"),
        )
        .orderBy(F.col("aa_score").desc(), F.col("src").asc(), F.col("dst").asc())
        .limit(k)
    )


def kcore_peel(
    edges_undirected: DataFrame, k: int = 4, rounds: int = 6
) -> DataFrame:
    """k-core peeling: ``rounds`` synchronous rounds of "drop every node
    with degree < k, induce the subgraph on survivors", then report each
    surviving node's degree in the peeled subgraph. The k-core is the
    fixpoint; a converged round is a no-op, so extra rounds are idempotent
    and the round count only needs to be >= the peel depth (6 covers this
    corpus — verified in tests — and both engines run the SAME count, so
    results agree even pre-convergence).

    The dense-subgraph detector dedup pipelines use on boilerplate link
    farms: a template cluster survives peeling long after organic
    co-occurrence dissolves.

    Scale shape: each round is one degree agg plus two semi-joins on the
    node key — the textbook iterated-small-step shape (same as the
    connected-components loop); no per-node windows, no collect. The peel
    is already degeneracy-BATCHED: every node whose degree is below k is
    dropped in the SAME round (the degree filter is a set operation, not a
    min-degree pop), so the round count is the peel *depth* of the graph —
    O(iterated-peel diameter), typically single digits — never the number
    of peeled nodes. A sequential min-degree peel would need O(|V|) rounds;
    this is the whole reason 6 rounds converge on a corpus-scale graph. The edge
    relation is ``localCheckpoint``-ed every round — the semi-join pair
    references the previous round's relation three times, so without
    lineage truncation the logical plan grows exponentially in ``rounds``
    (Catalyst analysis alone becomes the bottleneck). Each superseded
    round's checkpoint blocks are released explicitly (RoundCheckpointer)
    the moment the next round materializes — without that, every dead
    round stays resident until JVM GC, which is what pushed the sf10
    rehearsal past the default local-mode heap. The relation shrinks
    monotonically, so later rounds are cheaper; a converged round (no
    edge dropped) breaks out early — the remaining rounds are no-ops by
    definition, so early exit preserves run-count parity with the
    oracle. Output grain: surviving nodes."""
    # DISK_ONLY rounds: the edge relation is corpus-scale, written once and
    # read once next round — on-heap caching buys nothing and competes with
    # the degree-agg/semi-join execution memory (the sf10 local-mode OOM)
    ckpt = RoundCheckpointer(edges_undirected, storage_level=StorageLevel.DISK_ONLY)
    # eager checkpoints: the lazy one-job-per-round variant was
    # A/B-measured flat-to-slower at sf0.1 (q266 min 3.5 → 3.7, q305
    # 3.3 → 3.5+) and reverted — in local mode the saved job's ~50 ms of
    # scheduling does not pay for losing the probe-over-blocks shape.
    # Round 11: explode-based symmetrization (_symmetrize) REVERTED here
    # too (q305 3.37/3.53 → 4.93/3.92 min-of-5, two interleaved A/B
    # pairs): the union feeds the eager checkpoint directly, so its two
    # branches materialize as twice as many parallel tasks while exchange
    # reuse already shares the dropDuplicates shuffle beneath them.
    both = ckpt.checkpoint(
        edges_undirected.select("src", "dst").union(
            edges_undirected.select(
                F.col("dst").alias("src"), F.col("src").alias("dst")
            )
        )
    )
    n_edges = both.count()
    for _ in range(rounds):
        keep = (
            both.groupBy("src")
            .agg(F.count(F.lit(1)).alias("deg"))
            .filter(F.col("deg") >= k)
            .select(F.col("src").alias("u"))
        )
        prev = both
        both = ckpt.checkpoint(
            both.join(keep, both["src"] == keep["u"], "left_semi")
            .join(keep, both["dst"] == keep["u"], "left_semi")
        )
        ckpt.release(prev)  # checkpoint was eager: prev has no consumers left
        n_next = both.count()
        if n_next == n_edges:
            break
        n_edges = n_next
    ckpt.disown_to_shared(both)  # the returned aggregation still reads the final round
    return both.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).cast("bigint").alias("degree")
    )


def kcore_sql(edges_cte: str, k: int, rounds: int) -> str:
    """DuckDB WITH-chain computing the same ``rounds``-round peel, for
    oracles. ``edges_cte`` must name a CTE holding (src, dst) each
    undirected edge once."""
    parts = [
        f"e0 AS (SELECT src, dst FROM {edges_cte} "
        f"UNION ALL SELECT dst, src FROM {edges_cte})"
    ]
    for i in range(1, rounds + 1):
        parts.append(
            f"n{i} AS (SELECT src AS u FROM e{i-1} "
            f"GROUP BY 1 HAVING COUNT(*) >= {k})"
        )
        parts.append(
            f"e{i} AS (SELECT src, dst FROM e{i-1} "
            f"WHERE src IN (SELECT u FROM n{i}) "
            f"AND dst IN (SELECT u FROM n{i}))"
        )
    return ", ".join(parts)


def densest_subgraph_peel(
    edges_undirected: DataFrame, eps: float = 0.5, rounds: int = 8
) -> DataFrame:
    """Greedy densest-subgraph via parallel peeling (Charikar's greedy,
    batched à la Bahmani/Kumar/Vassilvitskii, VLDB 2012): repeatedly drop
    every node whose degree ≤ (1+eps)·(2|E|/|V|) — the (1+eps)-scaled
    average degree — and keep the round with the highest density
    ρ = |E|/|V| seen along the way. The kept subgraph is a
    2(1+eps)-approximation of the maximum-density subgraph.

    The spam/template-farm detector of a curation pipeline: a link farm or
    boilerplate template cluster is precisely a subgraph whose internal
    density survives average-degree peeling long after organic structure
    dissolves — the density-first cousin of :func:`kcore_peel` (which
    fixes the degree threshold instead of adapting it to the surviving
    graph).

    Batched peel shape: like the k-core peel, EVERY below-threshold node
    drops in the same round (a set filter, not a min-degree pop), which is
    what turns Charikar's O(|V|)-round sequential greedy into
    O(log_{1+eps} |V|) rounds — each round removes a constant fraction of
    nodes or the threshold test would contradict the average. Per round:
    one degree aggregation, a 1-row stats collect (|V|, 2|E|) for the
    threshold, and two semi-joins — the iterated-small-step shape, edges
    localCheckpoint-ed with superseded rounds released (RoundCheckpointer,
    DISK_ONLY); the BEST round's relation is retained until the end and
    disowned to the shared registry for the between-queries release hook.

    Round-count parity with the SQL oracle (:func:`densest_sql`): both
    engines run AT MOST ``rounds`` peels and pick the best nonempty round
    (ties → earliest); an early exit on an empty graph is safe because an
    empty round stays empty — identical best-round selection. ``rounds``
    must cover log_{1+eps}(|V|) for the peel to fully drain (8 covers this
    corpus's thresholded co-purchase graph at every test SF — it drains in
    4); an undrained peel still returns the best density seen, identically
    in both engines.

    Nodes are defined as edge endpoints (an isolated node has degree 0 ≤
    any threshold and would drop next round anyway — dropping it one round
    early changes neither |E| nor the eventual best subgraph membership at
    the density maximum). Density and threshold arithmetic is performed in
    ONE order — ((1+eps) · 2|E|) / |V| and (2|E| / 2.0) / |V| — so the
    driver-side Python doubles and the oracle's SQL doubles are
    bit-identical.

    Output: one row per node of the best-density subgraph —
    (node, degree, density), degree measured inside that subgraph and
    density the (constant) winning ρ."""
    ckpt = RoundCheckpointer(edges_undirected, storage_level=StorageLevel.DISK_ONLY)
    # eager checkpoints: see kcore_peel — the lazy variant measured
    # slower at sf0.1 (q305 3.3 → 3.5+) and was reverted, as was the
    # explode-based symmetrization (round 11, same A/B as kcore_peel).
    both = ckpt.checkpoint(
        edges_undirected.select("src", "dst").union(
            edges_undirected.select(
                F.col("dst").alias("src"), F.col("src").alias("dst")
            )
        )
    )
    best = None
    best_density = float("-inf")
    for r in range(rounds + 1):
        deg = both.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
        row = deg.agg(
            F.count(F.lit(1)).alias("nv"), F.sum("deg").alias("ne2")
        ).first()
        nv, ne2 = row["nv"], row["ne2"]
        if not nv:
            break  # empty stays empty: remaining oracle rounds are no-ops
        density = (ne2 / 2.0) / nv  # same op order as the SQL oracle
        if density > best_density:  # strict: ties keep the earliest round
            if best is not None:
                ckpt.release(best)
            best, best_density = both, density
        if r == rounds:
            break
        thr = ((1.0 + eps) * ne2) / nv  # same op order as the SQL oracle
        keep = deg.filter(F.col("deg") > thr).select(F.col("src").alias("u"))
        prev = both
        both = ckpt.checkpoint(
            prev.join(keep, prev["src"] == keep["u"], "left_semi").join(
                keep, prev["dst"] == keep["u"], "left_semi"
            )
        )
        if prev is not best:
            ckpt.release(prev)
    if both is not best:
        ckpt.release(both)
    if best is None:
        # zero edges: the first round saw nv == 0, so no round was ever a
        # candidate — return the empty result the SQL oracle produces for
        # the same input (its `best` CTE has no nv > 0 row to join)
        return edges_undirected.sparkSession.createDataFrame(
            [], "node bigint, degree bigint, density double"
        )
    ckpt.disown_to_shared(best)  # the returned aggregation still reads it
    return (
        best.groupBy(F.col("src").alias("node"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("degree"))
        .select("node", "degree", F.lit(best_density).alias("density"))
    )


def densest_sql(edges_cte: str, eps: float, rounds: int) -> str:
    """DuckDB WITH-chain replicating :func:`densest_subgraph_peel` —
    ``rounds`` unrolled peel rounds, per-round density summary, best
    nonempty round (ties → earliest), that round's nodes + degrees.
    ``edges_cte`` must name a CTE holding (src, dst) each undirected edge
    once. Returns the full query tail from ``e0`` onward (compose after a
    'WITH <edges_cte> AS (...), ' prefix)."""
    one_eps = repr(1.0 + eps)
    # AS MATERIALIZED: each e/g CTE is referenced 2-4 times; DuckDB's
    # default inlining would otherwise re-expand the whole upstream chain
    # per reference — exponential in rounds (observed as fd exhaustion from
    # re-opening the base parquet hundreds of times at rounds=8)
    parts = [
        f"e0 AS MATERIALIZED (SELECT src, dst FROM {edges_cte} "
        f"UNION ALL SELECT dst, src FROM {edges_cte})"
    ]
    for i in range(rounds + 1):
        parts.append(
            f"g{i} AS MATERIALIZED "
            f"(SELECT src AS u, COUNT(*) AS deg FROM e{i} GROUP BY 1)"
        )
        parts.append(
            f"s{i} AS (SELECT {i} AS r, "
            f"(SELECT COALESCE(SUM(deg), 0) FROM g{i}) AS ne2, "
            f"(SELECT COUNT(*) FROM g{i}) AS nv)"
        )
        if i < rounds:
            parts.append(
                f"n{i + 1} AS (SELECT u FROM g{i}, s{i} "
                f"WHERE deg > ({one_eps} * ne2) / nv)"
            )
            parts.append(
                f"e{i + 1} AS MATERIALIZED (SELECT src, dst FROM e{i} "
                f"WHERE src IN (SELECT u FROM n{i + 1}) "
                f"AND dst IN (SELECT u FROM n{i + 1}))"
            )
    summary = " UNION ALL ".join(
        f"SELECT r, ne2, nv FROM s{i}" for i in range(rounds + 1)
    )
    allg = " UNION ALL ".join(
        f"SELECT {i} AS r, u, deg FROM g{i}" for i in range(rounds + 1)
    )
    parts.append(f"summary AS ({summary})")
    parts.append(
        "best AS (SELECT r, (ne2 / 2.0) / nv AS density FROM summary "
        "WHERE nv > 0 ORDER BY density DESC, r ASC LIMIT 1)"
    )
    parts.append(f"allg AS ({allg})")
    body = ",\n            ".join(parts)
    return (
        body
        + "\n            SELECT CAST(g.u AS BIGINT) AS node, "
        "CAST(g.deg AS BIGINT) AS degree, b.density AS density\n"
        "            FROM allg g JOIN best b ON g.r = b.r"
    )


def component_census(edges: DataFrame, max_iters: int = 50) -> DataFrame:
    """Connected-component SIZE census: how many components of each size
    the graph has. The shape report a dedup pipeline reads before
    collapsing clusters — a giant component (one size-N row with N ≈
    |nodes|) means the similarity threshold is too loose and transitive
    closure is about to merge the corpus into one doc.

    Scale shape: :func:`connected_components`' local contraction and
    vertex-state min-label loop, then two folds straight off the label
    relation — node grain → component grain → size grain, with no
    node-grain join back. Output per size:
    (component_size, n_components)."""
    sizes = _component_sizes(_component_labels(edges, max_iters))
    return sizes.groupBy(F.col("cluster_size").alias("component_size")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_components")
    )


def coorder_edges_min(
    lineitem: DataFrame, min_orders: int = 2
) -> DataFrame:
    """Thresholded part co-purchase edges: (src, dst) with src < dst for
    pairs co-occurring in at least ``min_orders`` DISTINCT orders. The
    raw co-order graph is a near-clique (any two popular parts share SOME
    order), so component analysis on it degenerates to one giant blob;
    the ≥2-order threshold keeps only repeated co-purchase signal — the
    same support cutoff association mining applies before rule scoring.

    Scale shape: distinct (order, part) first (the only corpus-sized
    shuffle), bounded per-order pair fanout, then a mergeable pair-count
    agg with the HAVING filter — no edge survives to downstream graph
    work unless repeated. (Round-11 A/B: the collect_set derivation was
    measured slower here too — see :func:`coorder_edges` — and the
    self-join reuses dropDuplicates' partitioning, so this is already
    exchange-minimal.)"""
    sides = lineitem.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk")
    ).dropDuplicates(["ok", "pk"])
    a = sides.alias("a")
    b = sides.alias("b")
    return (
        a.join(
            b,
            (F.col("a.ok") == F.col("b.ok"))
            & (F.col("a.pk") < F.col("b.pk")),
        )
        .groupBy(F.col("a.pk").alias("src"), F.col("b.pk").alias("dst"))
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .filter(F.col("n_orders") >= min_orders)
        .select("src", "dst")
    )
