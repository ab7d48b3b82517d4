"""Distributed connected components + near-dedup cluster closure.

The dedup operators emit *pair* DataFrames (minhash/simhash/ngram/
embedding candidates), and the LSH skew guard (`minhash_lsh_pairs(
max_bucket=)`) explicitly leaves member↔member closure of dense
clusters to "the caller's connected-components pass" — this module is
that pass, plus the composed `near_dedup` pipeline a training-data
prep job actually runs (pairs → components → one canonical doc per
cluster).

`connected_components` is the alternating large-star / small-star
algorithm of Kiveris et al., "Connected Components in MapReduce and
Beyond" (ACM SoCC 2014): each round is two groupBy-join passes over
the current edge set, every edge set shrinks toward a star per
component, and convergence takes O(log n) rounds on ANY graph shape —
a 2^20-node path converges in ~20 rounds where naive min-label
propagation needs 2^20. Per round the working set is at most the
current edge count, shuffled by node id, so the shape survives
100 TB-scale pair sets; lineage is truncated every round via
checkpoint (reliable if `spark.sparkContext.setCheckpointDir` was
called, executor-local otherwise) so the Catalyst plan never grows
with the iteration count.

Everything is JVM expressions — no Python touches a row.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = [
    "connected_components",
    "near_dedup",
    "cluster_stats",
    "semantic_dedup",
    "pagerank",
    "label_propagation",
    "cluster_safe_split",
    "triangle_count",
    "hyperball",
    "coreness",
]


def _star_edges(df: DataFrame) -> DataFrame:
    """Canonical undirected edge set: (u, v) with u > v, no self loops,
    distinct. min()/greatest()/least() give a total order for any
    orderable id type (long ids and string ids both work)."""
    return (
        df.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _large_star(edges: DataFrame) -> DataFrame:
    """large-star: for each node u, attach every *larger* neighbor to
    the minimum of Γ(u) ∪ {u}. One groupBy (per-node min) + one join,
    both keyed by node id."""
    sym = edges.unionByName(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    mins = sym.groupBy("u").agg(F.min("v").alias("mv"))
    # m = min(Γ(u) ∪ {u}); since m ≤ u < v the emitted (v, m) can never
    # be a self loop
    return (
        sym.join(mins, on="u")
        .filter(F.col("v") > F.col("u"))
        .select(
            F.col("v").alias("u"), F.least("u", "mv").alias("v")
        )
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """small-star: for each node u attach u and all its smaller
    neighbors to the minimum neighbor.

    Input contract: ``edges`` is already canonically oriented
    (u > v) and distinct — true of ``_star_edges`` output and of
    ``_large_star`` output (which emits (v, least(u, m)) with
    v > both) — so no re-orientation/distinct pass here. Outputs are
    canonical too ((u, m) and (v, m) both have left > m = the group
    min), deduped with ONE distinct after the union instead of one
    per branch: every shuffle in this loop body is paid O(log n)
    times."""
    mins = edges.groupBy("u").agg(F.min("v").alias("m"))
    withm = edges.join(mins, on="u")
    self_edges = withm.select(F.col("u"), F.col("m").alias("v"))
    nbr_edges = withm.filter(F.col("v") != F.col("m")).select(
        F.col("v").alias("u"), F.col("m").alias("v")
    )
    return self_edges.unionByName(nbr_edges).distinct()


def _signature(edges: DataFrame) -> tuple:
    """Cheap fixpoint signature of a distinct edge set: (count,
    xor of per-edge hashes). bit_xor never overflows (unlike sum under
    ANSI mode) and is order-insensitive."""
    row = edges.agg(
        F.count(F.lit(1)).alias("n"),
        F.expr("bit_xor(xxhash64(u, v))").alias("x"),
    ).collect()[0]
    return (row["n"], row["x"])


def _checkpoint(df: DataFrame) -> DataFrame:
    """Truncate lineage between rounds. Reliable checkpoint when the
    session has a checkpoint dir (the cluster setting — survives
    executor loss), executor-local otherwise (always available; fine
    on local mode and acceptable on clusters where a lost executor
    just re-runs the job)."""
    sc = df.sparkSession.sparkContext
    if sc.getCheckpointDir() is not None:
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=True)


# Bounded driver fast path: near-dup pair graphs are tiny relative to
# the corpus (only pairs that passed a similarity screen appear), and
# each large/small-star round costs two shuffles + a checkpoint + a
# signature job — ~6.8 s of fixpoint overhead for a 4.7k-edge graph at
# sf0.1 (profiled r6). Below this edge count the exact same assignment
# (component = min id) comes from one bounded collect + union-find,
# following the repo's bounded-collect precedent (k centroids,
# <= 2^20 classifier weights). Above it the SoCC'14 loop runs
# unchanged — the honest 100-TB path.
_CC_COLLECT_MAX = 1 << 18


def _cc_driver(raw: DataFrame, rows) -> DataFrame:
    """Union-find over a collected edge list; returns [id, component]
    with component = min id, identical to the distributed fixpoint."""
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for r in rows:
        u, v = r["u"], r["v"]
        for n in (u, v):
            if n not in parent:
                parent[n] = n
        # a NULL endpoint is no edge: NULL is one node of its own and
        # the other endpoint keeps its own component, as in the fixpoint
        if u is None or v is None:
            continue
        ru, rv = find(u), find(v)
        if ru != rv:
            # union by MIN id so the root IS the component label
            lo, hi = (ru, rv) if ru < rv else (rv, ru)
            parent[hi] = lo
    out = [(n, find(n)) for n in parent]
    spark = raw.sparkSession
    id_t = raw.schema["u"].dataType.simpleString()
    return spark.createDataFrame(out, schema=f"id {id_t}, component {id_t}")


def connected_components(
    pairs: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iterations: int = 50,
    collect_max: int = _CC_COLLECT_MAX,
) -> DataFrame:
    """Connected components of the undirected graph given by
    ``pairs[src, dst]``.

    Returns [id, component] for EVERY node appearing in ``pairs``,
    where ``component`` is the minimum id in the node's component
    (roots map to themselves), so the output is deterministic and
    join-ready as a cluster assignment.

    Alternates large-star / small-star until the oriented edge set is
    a fixpoint (count + hash-xor signature), which the SoCC'14 paper
    proves happens in O(log n) rounds; at the fixpoint every edge is
    (node, component-min). ``max_iterations`` is a safety rail far
    above the bound (2^50-node graphs) — hitting it raises rather than
    returning silently-partial components.
    """
    raw = pairs.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    if collect_max:
        # one bounded job: the limited collect IS the size probe (at
        # most collect_max+1 slim id pairs reach the driver)
        rows = raw.limit(collect_max + 1).collect()
        if len(rows) <= collect_max:
            return _cc_driver(raw, rows)
    edges = _star_edges(raw)
    # nodes must be captured BEFORE contraction (star rounds drop
    # intra-cluster edges, so the final edge set alone only lists
    # non-root members) and from the RAW pairs (a node appearing only
    # in a self-loop pair still belongs in the output, as its own
    # component).
    nodes = _checkpoint(
        raw.select("u")
        .unionByName(raw.select(F.col("v").alias("u")))
        .distinct()
    )
    edges = _checkpoint(_small_star(edges))
    sig = _signature(edges)
    for _ in range(max_iterations):
        nxt = _checkpoint(_small_star(_large_star(edges)))
        nxt_sig = _signature(nxt)
        # superseded rounds' checkpoint blocks are reclaimed by the
        # ContextCleaner once the Python reference drops — no explicit
        # unpersist exists for checkpointed data
        edges = nxt
        if nxt_sig == sig:
            break
        sig = nxt_sig
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_iterations} "
            "rounds — edge set signature still changing"
        )
    assign = (
        nodes.join(
            edges.select(F.col("u"), F.col("v").alias("component")),
            on="u",
            how="left",
        )
        .select(
            F.col("u").alias("id"),
            F.coalesce("component", "u").alias("component"),
        )
    )
    return assign


def cluster_stats(pairs: DataFrame, src: str = "id_a", dst: str = "id_b") -> DataFrame:
    """Duplicate-cluster size histogram from a pair DataFrame:
    [cluster_size, n_clusters], cluster_size ≥ 2 (every node in
    ``pairs`` belongs to some ≥2-cluster unless it only self-loops).
    The one-number diagnostics every dedup run wants before committing
    to a policy: how much of the corpus is duplicated, and whether one
    giant boilerplate cluster dominates (→ raise ``max_bucket`` /
    thresholds). Cost: components on the pair graph + two tiny
    groupBys."""
    assign = connected_components(pairs, src=src, dst=dst)
    sizes = assign.groupBy("component").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return (
        sizes.groupBy("cluster_size")
        .agg(F.count(F.lit(1)).alias("n_clusters"))
        .orderBy("cluster_size")
    )


def near_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    pairs: DataFrame | None = None,
    keep: str = "min_id",
    **minhash_kwargs,
) -> DataFrame:
    """End-to-end fuzzy dedup: keep ONE canonical row per
    near-duplicate cluster.

    ``keep`` picks the survivor: ``'min_id'`` (default — deterministic
    from ids alone, no extra shuffle input) or ``'longest'`` (the row
    with the longest ``text_col``, ties to the smaller id — the common
    web-pipeline policy: boilerplate-trimmed fragments lose to the
    fullest copy).

    ``pairs`` defaults to ``minhash_lsh_pairs(df, **minhash_kwargs)``
    (pass ``max_bucket=`` there for boilerplate-heavy corpora — the
    star-join pairs it emits are exactly what the component closure
    here stitches back into full clusters); any (id_a, id_b) pair
    DataFrame works, e.g. ``ngram_jaccard_pairs`` for an exact-Jaccard
    policy or a union of several strategies.

    Scale shape: the pair graph is tiny next to the corpus (only
    near-dups appear), components run on pairs alone, and the final
    filter is one left join keyed by id (plus, for 'longest', one
    window over the PAIRED rows only). Rows never touched by a pair
    survive unconditionally.
    """
    from pyspark.sql import Window

    from hyper_spark.operators.dedup import minhash_lsh_pairs

    if keep not in ("min_id", "longest"):
        raise ValueError(f"unknown keep policy {keep!r}")
    own_pairs = pairs is None
    if own_pairs:
        pairs = minhash_lsh_pairs(
            df, id_col=id_col, text_col=text_col, **minhash_kwargs
        )
    assign = connected_components(pairs, src="id_a", dst="id_b")
    joined = df.join(
        assign.select(F.col("id").alias(id_col), F.col("component")),
        on=id_col,
        how="left",
    )
    if keep == "min_id":
        out = joined.filter(
            F.col("component").isNull() | (F.col("component") == F.col(id_col))
        ).drop("component")
    else:
        w = Window.partitionBy("component").orderBy(
            F.length(F.coalesce(F.col(text_col), F.lit(""))).desc(),
            F.col(id_col).asc(),
        )
        # the window only ever sees paired rows (components are tiny
        # next to the corpus); unpaired rows bypass it entirely
        unpaired = joined.filter(F.col("component").isNull()).drop("component")
        winners = (
            joined.filter(F.col("component").isNotNull())
            .withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn", "component")
        )
        out = unpaired.unionByName(winners)
    if own_pairs:
        # minhash_lsh_pairs returns a persisted result (caller
        # contract); the assignment above has been checkpointed, so the
        # pair cache can go as soon as the closure is built.
        out = out.localCheckpoint(eager=True)
        pairs.unpersist()
    return out


def semantic_dedup(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    keep: str = "min_id",
    text_col: str | None = None,
    method: str = "lsh",
    **embedding_kwargs,
) -> DataFrame:
    """Embedding-space near-dedup (the SemDeDup policy, Abbas et al.
    2023: drop all but one of every cosine-similar cluster): pairs by
    cosine >= ``threshold`` via `embedding_pairs` (hyperplane-LSH
    bucketed by default — ``method='brute'`` is the exact/audit mode),
    cluster closure via `connected_components`, one survivor per
    cluster via `near_dedup`'s keep policy.

    ``keep='longest'`` needs ``text_col`` (the policy reads document
    length); ``'min_id'`` (default) works on embedding-only tables.

    Scale shape: inherits its stages' — bucketed quadratic work only
    inside LSH buckets, component closure on the pair graph alone
    (O(log n) rounds), one final join keyed by id.
    """
    from hyper_spark.operators.dedup import embedding_pairs

    if keep == "longest" and text_col is None:
        raise ValueError("keep='longest' requires text_col")
    # injected pairs are the CALLER's to persist (near_dedup only
    # manages the lifetime of pair frames it builds itself), and the
    # component closure evaluates its edge input twice (nodes + first
    # star round) — without this the LSH matmul and bucket join run
    # twice
    pairs = embedding_pairs(
        df,
        id_col=id_col,
        vec_col=vec_col,
        threshold=threshold,
        method=method,
        **embedding_kwargs,
    ).persist()
    try:
        # near_dedup's component closure checkpoints eagerly, so by
        # return time nothing downstream references the pair lineage —
        # the unpersist cannot trigger a recompute
        return near_dedup(
            df,
            id_col=id_col,
            text_col=text_col if text_col is not None else id_col,
            pairs=pairs,
            keep=keep,
        )
    finally:
        pairs.unpersist()


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight: str | None = None,
    iters: int = 10,
    damping: float = 0.85,
) -> DataFrame:
    """Weighted PageRank (Brin & Page 1998) over ``edges[src, dst]``
    with dangling-mass redistribution: for each of exactly ``iters``
    power iterations,

        r'(v) = (1−d)/N + d·(Σ_{u→v} r(u)·w/W_u + D/N)

    where W_u is u's total out-weight and D the rank mass sitting on
    dangling nodes (no out-edges). Returns [node, rank]; ranks sum to
    1 at every iteration.

    Distributed shape: ranks and edges stay DataFrames end-to-end —
    one join + one groupBy(dst) per iteration (shuffle = |edges| the
    first, |nodes| the second, both partial-aggregated), plus ONE
    scalar collect for the dangling mass (a single row; documented
    driver touch). Lineage is truncated per iteration via the same
    checkpoint used by `connected_components`, so deep iteration
    counts do not grow the plan. Uniform 1/N init + fixed iteration
    count = the determinism contract that lets the gate unroll the
    same iterations as SQL CTEs (clustering.py's design)."""
    if not 0.0 < damping < 1.0:
        raise ValueError(f"damping must be in (0, 1), got {damping}")
    w = F.col(weight).cast("double") if weight else F.lit(1.0)
    e = edges.select(
        F.col(src).alias("__s"), F.col(dst).alias("__d"), w.alias("__w")
    ).groupBy("__s", "__d").agg(F.sum("__w").alias("__w"))
    nodes = (
        e.select(F.col("__s").alias("node"))
        .unionByName(e.select(F.col("__d").alias("node")))
        .distinct()
        .persist()
    )
    n = nodes.count()
    if n == 0:
        raise ValueError("empty edge set")
    outw = e.groupBy("__s").agg(F.sum("__w").alias("__wout"))
    # transition probabilities, built once
    trans = (
        e.join(outw, "__s")
        .select("__s", "__d", (F.col("__w") / F.col("__wout")).alias("__p"))
        .persist()
    )
    trans.count()
    dangling_nodes = nodes.join(
        outw.select(F.col("__s").alias("node")), "node", "left_anti"
    ).persist()
    ranks = nodes.select("node", F.lit(1.0 / n).alias("rank"))
    base = (1.0 - damping) / n
    try:
        for _ in range(iters):
            dm_row = dangling_nodes.join(ranks, "node").agg(
                F.coalesce(F.sum("rank"), F.lit(0.0)).alias("dm")
            ).collect()
            dm = dm_row[0]["dm"]
            contrib = (
                ranks.join(trans, ranks["node"] == trans["__s"])
                .groupBy("__d")
                .agg(F.sum(F.col("rank") * F.col("__p")).alias("__c"))
            )
            ranks = _checkpoint(
                nodes.join(contrib, nodes["node"] == contrib["__d"], "left")
                .select(
                    "node",
                    (
                        F.lit(base)
                        + F.lit(damping)
                        * (F.coalesce(F.col("__c"), F.lit(0.0)) + F.lit(dm / n))
                    ).alias("rank"),
                )
            )
    finally:
        trans.unpersist()
        dangling_nodes.unpersist()
        nodes.unpersist()
    return ranks


def label_propagation(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    iters: int = 5,
) -> DataFrame:
    """Community detection by synchronous label propagation (Raghavan,
    Albert & Kumara 2007) with a deterministic contract — completes
    the graph family (connected_components: reachability closure;
    pagerank: centrality; this: communities, which can split a single
    component into densely-linked groups).

    Contract (what makes the SQL-CTE oracle possible, clustering.py's
    design): edges are symmetrized and deduped; every node's label
    starts as its own id; each of exactly ``iters`` SYNCHRONOUS rounds
    every node adopts the most frequent label among its neighbors,
    ties to the SMALLEST label. Fixed iteration count (synchronous LPA
    can oscillate on bipartite structures — a convergence loop would
    not terminate there, and the original paper randomizes instead,
    which no SQL oracle can replay).

    Returns [id, label]. Distributed shape: one |edges| join + one
    groupBy + one per-node window rank per round (the window input is
    ≤ one row per (node, distinct neighbor label)); lineage truncated
    per round via the connected_components checkpoint, so deep
    iteration counts do not grow the plan."""
    if iters < 1:
        raise ValueError(f"iters must be >= 1, got {iters}")
    from pyspark.sql.window import Window

    e = edges.select(F.col(src).alias("__s"), F.col(dst).alias("__d"))
    sym = (
        e.unionByName(
            e.select(F.col("__d").alias("__s"), F.col("__s").alias("__d"))
        )
        .filter(F.col("__s") != F.col("__d"))
        .distinct()
        .persist()
    )
    labels = sym.select(F.col("__s").alias("id")).distinct().select(
        "id", F.col("id").alias("label")
    )
    w = Window.partitionBy("__s").orderBy(F.desc("__c"), F.asc("label"))
    try:
        for _ in range(iters):
            cnt = (
                sym.join(labels, sym["__d"] == labels["id"])
                .groupBy("__s", "label")
                .agg(F.count(F.lit(1)).alias("__c"))
            )
            labels = _checkpoint(
                cnt.withColumn("__rn", F.row_number().over(w))
                .filter(F.col("__rn") == 1)
                .select(F.col("__s").alias("id"), "label")
            )
    finally:
        sym.unpersist()
    return labels


def cluster_safe_split(
    df: DataFrame,
    pairs: DataFrame,
    weights,
    id_col: str = "doc_id",
    seed: str | int = 0,
    split_col: str = "split",
) -> DataFrame:
    """Leakage-safe train/val/test split: every member of a duplicate
    CLUSTER lands in the same split.

    hash_split on a fingerprint already keeps EXACT duplicates
    together, but near-duplicates (minhash / n-gram / embedding pairs)
    have different fingerprints — split independently, a paraphrase of
    a training doc lands in test and leaks. Here the split key is the
    connected component of the pair graph (min-id per cluster,
    ``connected_components``), so any chain of near-dup pairs shares
    one draw; docs in no pair split by their own id, reproducing plain
    hash_split for them. Same md5-threshold determinism contract as
    hash_split (exactly reproducible in SQL).

    Cost: components on the pair graph (O(log n) star rounds over
    |pairs|) + one left join onto the corpus + a map-side when-chain.
    Returns ``df`` plus ``split_col``."""
    from hyper_spark.operators.sampling import hash_split

    assign = connected_components(pairs, src="id_a", dst="id_b")
    joined = df.join(
        assign.select(
            F.col("id").alias(id_col), F.col("component").alias("__comp")
        ),
        id_col,
        "left",
    ).withColumn("__comp", F.coalesce("__comp", F.col(id_col)))
    return hash_split(
        joined, "__comp", weights, seed=seed, split_col=split_col
    ).drop("__comp")


def triangle_count(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    per_node: bool = False,
) -> DataFrame:
    """Exact triangle counting by the degree-ordered node-iterator
    (Suri & Vassilvitskii, "Counting Triangles and the Curse of the
    Last Reducer", WWW'11).

    Edges are symmetrized/deduped/self-loop-dropped, then ORIENTED
    from lower to higher (degree, id) — every triangle becomes exactly
    one wedge a→b, a→c closed by b→c, and each node's out-degree is
    O(sqrt(m)) regardless of raw degree skew, which is the whole
    point: a celebrity node of degree 10M contributes wedges bounded
    by its (small) out-degree, not degree². Returns one row
    [n_triangles] (global, default) or [id, n_triangles] per node
    (nodes in no triangle return 0).

    Shape: one degree groupBy, one |E| join to attach the endpoint's
    (degree, id) rank, one wedge self-join on the wedge apex, one
    closing join on the oriented (b, c) edge — all keyed shuffles,
    no window over a global sort (a dense global rank would serialize
    on one partition; the (degree, id) struct comparison gives the
    same total order for free)."""
    e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    canon = _star_edges(e)
    sym = canon.unionByName(
        canon.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    deg = sym.groupBy("u").agg(F.count(F.lit(1)).alias("__d"))
    # orient each edge toward the larger (degree, id); carry both
    # endpoints' orders so the wedge comparison needs no extra join
    with_deg = (
        sym.join(deg, "u")
        .withColumnRenamed("__d", "__du")
        .join(deg.select(F.col("u").alias("v"), F.col("__d").alias("__dv")), "v")
    )
    # checkpoint, not persist: oriented feeds three join branches
    # (wedge x/y + closing) — the graph.py convention, no cache-release
    # obligation on the caller
    oriented = _checkpoint(
        with_deg.filter(
            F.struct("__du", "u") < F.struct("__dv", "v")
        ).select("u", "v", F.col("__dv").alias("__dv"))
    )
    wedges = (
        oriented.alias("x")
        .join(oriented.alias("y"), F.col("x.u") == F.col("y.u"))
        .filter(
            F.struct(F.col("x.__dv"), F.col("x.v"))
            < F.struct(F.col("y.__dv"), F.col("y.v"))
        )
        .select(
            F.col("x.u").alias("a"),
            F.col("x.v").alias("b"),
            F.col("y.v").alias("c"),
        )
    )
    closing = oriented.select(F.col("u").alias("b"), F.col("v").alias("c"))
    tris = wedges.join(closing, ["b", "c"])
    if not per_node:
        out = tris.agg(F.count(F.lit(1)).alias("n_triangles"))
    else:
        # nodes from the RAW pairs (the connected_components lesson):
        # a node appearing only in a self-loop pair still belongs in
        # the per-node output, with 0 triangles
        nodes = (
            e.select(F.col("u").alias("id"))
            .unionByName(e.select(F.col("v").alias("id")))
            .distinct()
        )
        corners = (
            tris.select(F.col("a").alias("id"))
            .unionByName(tris.select(F.col("b").alias("id")))
            .unionByName(tris.select(F.col("c").alias("id")))
            .groupBy("id")
            .agg(F.count(F.lit(1)).alias("__n"))
        )
        out = nodes.join(corners, "id", "left").select(
            "id", F.coalesce("__n", F.lit(0)).alias("n_triangles")
        )
    return out


def hyperball(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    p: int = 12,
    max_hops: int = 3,
    estimator: str = "hllpp",
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """HyperBall (Boldi & Vigna, "In-Core Computation of Geometric
    Centralities with HyperBall", 2013): per-node NEIGHBOURHOOD
    FUNCTION estimates — |ball(v, t)| = how many nodes sit within t
    hops of v — for every t in 0..``max_hops``, from one register
    state that never stores the balls themselves.

    The trick is the library's own HLL algebra applied hop-wise:
    ball(v, t) = {v} ∪ ⋃_{(v,u)∈E} ball(u, t−1), and HLL registers
    union by MAX — so each hop is one edge join + one (node, idx)
    max groupBy over relational register rows (the sliding_hll state
    shape), never materializing a ball. Registers per node ≤ 2^p
    regardless of graph size; lineage checkpoint-truncated per hop.
    Exact-distance BFS stores O(n²) pair rows on dense graphs —
    HyperBall is how effective-diameter / closeness estimation stays
    feasible at web scale.

    Undirected (edges symmetrized); estimates carry the standard HLL
    guarantee (±1.04/√2^p), evaluated by the kernel estimator
    (``'hllpp'``, reference parity) or LogLog-Beta (``'beta'``, zero
    Python in the read path). Returns [id, hop, estimate], hops
    0..max_hops (hop 0 ≈ 1.0, the node itself)."""
    if max_hops < 0:
        raise ValueError(f"max_hops must be >= 0, got {max_hops}")
    if estimator not in ("hllpp", "beta"):
        raise ValueError(f"unknown estimator {estimator!r}")
    from hyper_spark.functions.hashing import hll_prepare
    from hyper_spark.operators.hll_agg import (
        SKETCH_FIELDS,
        _densify_fn,
        beta_estimate_agg,
        cardinality_col,
    )
    from hyper_spark.operators.util import grouped_apply

    e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    canon = _star_edges(e)
    sym = _checkpoint(
        canon.unionByName(
            canon.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
    )
    nodes = (
        e.select(F.col("u").alias("id"))
        .unionByName(e.select(F.col("v").alias("id")))
        .distinct()
    )
    idx, rho = hll_prepare(F.col("id").cast("string"), p, hash_fn)
    state = _checkpoint(
        nodes.select("id", idx.alias("idx"), rho.alias("rho"))
    )

    def estimates(st: DataFrame, hop: int) -> DataFrame:
        if estimator == "beta":
            est = st.groupBy("id").agg(beta_estimate_agg(p).alias("estimate"))
        else:
            sk = grouped_apply(st, ["id"], _densify_fn(p, ["id"]), SKETCH_FIELDS)
            est = sk.select(
                "id",
                cardinality_col(F.col("p"), F.col("registers")).alias(
                    "estimate"
                ),
            )
        return est.select("id", F.lit(hop).alias("hop"), "estimate")

    out = estimates(state, 0)
    for t in range(1, max_hops + 1):
        nbr = sym.join(state, sym["v"] == state["id"]).select(
            sym["u"].alias("id"), "idx", "rho"
        )
        state = _checkpoint(
            state.unionByName(nbr).groupBy("id", "idx").agg(
                F.max("rho").alias("rho")
            )
        )
        out = out.unionByName(estimates(state, t))
    return out


def coreness(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    iters: int | None = None,
    max_iterations: int = 200,
) -> DataFrame:
    """k-core decomposition: per-node CORE NUMBER — the largest k such
    that the node survives in the k-core (the maximal subgraph where
    every node keeps degree >= k). Completes the graph family's density
    axis: triangle_count measures local closure, label_propagation
    finds communities, coreness ranks how deep in the dense nucleus
    each node sits — the standard cheap signal for "boilerplate hub vs
    organic cluster" on near-dup pair graphs (a template that pairs
    with everything has high coreness; an organic paraphrase pair has
    coreness 1).

    Algorithm: the h-index iteration (Lü, Zhou, Zhang & Stanley, "The
    H-index of a network node and its relation to degree and coreness",
    Nature Communications 2016; operationally identical to the
    locality-based distributed k-core of Montresor, De Pellegrini &
    Miorandi, IEEE TPDS 2013): h_0(u) = deg(u), and each synchronous
    round sets h_{t+1}(u) to the h-index of its neighbors' current
    values (the largest h such that >= h neighbors have value >= h).
    The sequence is non-increasing and pointwise converges to the core
    number exactly. Per round: one |E| join + one per-node descending
    rank + one max(least(rank, value)) groupBy — all keyed shuffles
    (the rank window partitions by node, so its input is one row per
    incident edge, never a global sort); lineage checkpoint-truncated
    per round.

    ``iters=None`` (default) runs to the fixpoint, detected by the
    monotone (count, sum) signature — worst case O(n) rounds on path
    graphs (the known bound for ANY locality-based coreness algorithm),
    tens of rounds on real clumpy graphs per the TPDS paper;
    ``max_iterations`` is the safety rail. ``iters=k`` runs exactly k
    synchronous rounds and returns h_k — an UPPER BOUND on coreness,
    exact once converged — which is the deterministic contract the
    unrolled-CTE SQL oracle replays (the label_propagation gate
    design).

    Self loops are dropped and edges deduped, so a self-loop-only node
    returns coreness 0. Returns [id, coreness] for every node in
    ``edges``."""
    if iters is not None and iters < 0:
        raise ValueError(f"iters must be >= 0, got {iters}")
    from pyspark.sql.window import Window

    e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    canon = _star_edges(e)
    sym = _checkpoint(
        canon.unionByName(
            canon.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
    )
    # every node from the RAW pairs (the connected_components lesson):
    # isolated / self-loop-only nodes stay in the output at coreness 0
    nodes = (
        e.select(F.col("u").alias("id"))
        .unionByName(e.select(F.col("v").alias("id")))
        .distinct()
    )
    h = _checkpoint(sym.groupBy("u").agg(F.count(F.lit(1)).alias("h")))
    w = Window.partitionBy("u").orderBy(F.desc("h"))

    def _round(cur: DataFrame) -> DataFrame:
        nbr = sym.join(
            cur.select(F.col("u").alias("v"), "h"), "v"
        ).select("u", "h")
        return _checkpoint(
            nbr.withColumn("__rn", F.row_number().over(w))
            .groupBy("u")
            .agg(F.max(F.least("__rn", "h")).alias("h"))
        )

    if iters is not None:
        for _ in range(iters):
            h = _round(h)
    else:
        # (count, sum) is a fixpoint signature because the iteration is
        # pointwise non-increasing: the sum strictly drops until done
        sig = h.agg(
            F.count(F.lit(1)).alias("n"), F.sum("h").alias("s")
        ).collect()[0]
        sig = (sig["n"], sig["s"])
        for _ in range(max_iterations):
            h = _round(h)
            row = h.agg(
                F.count(F.lit(1)).alias("n"), F.sum("h").alias("s")
            ).collect()[0]
            nxt = (row["n"], row["s"])
            if nxt == sig:
                break
            sig = nxt
        else:
            raise RuntimeError(
                f"coreness did not converge in {max_iterations} rounds"
            )
    return nodes.join(
        h.select(F.col("u").alias("id"), "h"), "id", "left"
    ).select("id", F.coalesce("h", F.lit(0)).cast("long").alias("coreness"))
