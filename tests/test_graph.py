"""connected_components (large-star/small-star) + near_dedup closure.

Oracle: an in-Python union-find over the same edge list — independent
of the Spark implementation and exact."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from hyper_spark.operators.dedup import minhash_lsh_pairs, ngram_jaccard_pairs
from hyper_spark.operators.graph import (
    cluster_stats,
    connected_components,
    near_dedup,
)


@pytest.fixture(scope="module")
def near_dup_docs(spark):
    """Same shape as the dedup-suite corpus: 40 base docs, each with an
    exact copy (punctuation-varied) and a near copy (one word)."""
    rows = []
    words = "alpha bravo charlie delta echo foxtrot golf hotel india juliet".split()
    for i in range(40):
        base = " ".join(words[(i + j) % 10] for j in range(30)) + f" doc{i}"
        rows.append(Row(doc_id=i * 10, text=base))
        rows.append(Row(doc_id=i * 10 + 1, text=base.upper() + "!!"))
        near = base.replace(words[i % 10], "zulu", 1)
        rows.append(Row(doc_id=i * 10 + 2, text=near))
    return spark.createDataFrame(rows)


def union_find(edges, nodes):
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    comps: dict = {}
    for n in nodes:
        comps.setdefault(find(n), []).append(n)
    return {n: min(ms) for ms in comps.values() for n in ms}


def _check(spark, edges, **kwargs):
    nodes = sorted({x for e in edges for x in e})
    want = union_find(edges, nodes)
    df = spark.createDataFrame(edges, ["id_a", "id_b"])
    got = {r["id"]: r["component"] for r in connected_components(df, **kwargs).collect()}
    assert got == want


def test_cc_chain_converges_in_log_rounds(spark):
    """A 1024-node path is the adversarial shape: naive min-label
    propagation needs 1024 rounds; the alternating star algorithm is
    O(log n) — max_iterations=20 both proves the bound and checks the
    result against union-find."""
    _check(spark, [(i, i + 1) for i in range(1024)], max_iterations=20)


def test_cc_random_graph(spark):
    rng = random.Random(7)
    edges = [(rng.randrange(500), rng.randrange(500)) for _ in range(300)]
    _check(spark, edges)


def test_cc_string_ids(spark):
    _check(spark, [("a", "b"), ("b", "c"), ("x", "y"), ("q", "q2"), ("q2", "a")])


def test_cc_messy_input(spark):
    """Self loops, duplicates, both orientations — and a node that
    appears ONLY as a self loop must still come back as its own
    component."""
    edges = [(1, 2), (2, 1), (3, 3), (2, 3), (5, 4), (4, 5), (9, 9)]
    df = spark.createDataFrame(edges, ["id_a", "id_b"])
    got = {r["id"]: r["component"] for r in connected_components(df).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 4, 5: 4, 9: 9}


def test_cc_empty(spark):
    df = spark.createDataFrame([], "id_a long, id_b long")
    assert connected_components(df).count() == 0


def test_cc_driver_fast_path_matches_distributed(spark):
    """The bounded union-find fast path and the SoCC'14 fixpoint must
    assign identical components (incl. messy input: self loops, dup
    orientations, isolated self-loop nodes)."""
    rng = random.Random(11)
    edges = [(rng.randrange(300), rng.randrange(300)) for _ in range(400)]
    edges += [(7, 7), (999, 999), (5, 5), (1, 2), (2, 1)]
    df = spark.createDataFrame(edges, ["id_a", "id_b"])
    fast = {
        r["id"]: r["component"] for r in connected_components(df).collect()
    }
    dist = {
        r["id"]: r["component"]
        for r in connected_components(df, collect_max=0).collect()
    }
    assert fast == dist


def test_cc_driver_null_endpoints_match_distributed(spark):
    """A NULL endpoint is no edge: both paths give the other endpoint
    its own component and list NULL once, as (NULL, NULL)."""
    df = spark.createDataFrame(
        [(1, 2), (2, 3), (None, 4), (5, None), (6, 7)], "id_a long, id_b long"
    )
    fast = sorted(
        connected_components(df).collect(), key=lambda r: (r["id"] is not None, r["id"])
    )
    dist = sorted(
        connected_components(df, collect_max=0).collect(),
        key=lambda r: (r["id"] is not None, r["id"]),
    )
    assert [tuple(r) for r in fast] == [tuple(r) for r in dist] == [
        (None, None), (1, 1), (2, 1), (3, 1), (4, 4), (5, 5), (6, 6), (7, 6)
    ]


def test_cc_nonconvergence_raises(spark):
    df = spark.createDataFrame([(i, i + 1) for i in range(64)], ["id_a", "id_b"])
    with pytest.raises(RuntimeError, match="did not converge"):
        # collect_max=0 pins the distributed fixpoint (the bounded
        # union-find fast path would answer this tiny graph directly)
        connected_components(df, max_iterations=1, collect_max=0)


# ------------------------------------------------------------ near_dedup


def test_near_dedup_keeps_component_min(spark, near_dup_docs):
    """near_dedup(df) == 'keep rows whose id is the union-find min of
    the minhash pair graph, plus rows in no pair' — computed from the
    SAME pairs the operator uses, so the test pins the closure, not the
    LSH recall."""
    pairs = minhash_lsh_pairs(near_dup_docs, num_hashes=64, bands=16, threshold=0.5)
    edge_list = [(r["id_a"], r["id_b"]) for r in pairs.collect()]
    all_ids = {r["doc_id"] for r in near_dup_docs.select("doc_id").collect()}
    paired = {x for e in edge_list for x in e}
    comp = union_find(edge_list, sorted(paired))
    want = (all_ids - paired) | {n for n in paired if comp[n] == n}
    kept = near_dedup(
        near_dup_docs, pairs=pairs
    )
    got = {r["doc_id"] for r in kept.select("doc_id").collect()}
    pairs.unpersist()
    assert got == want
    # sanity: clusters actually collapsed (40 exact-dup pairs at least)
    assert len(got) <= len(all_ids) - 40


def test_near_dedup_closes_star_pairs(spark):
    """The max_bucket skew guard emits rep<->member star pairs instead
    of the quadratic member<->member set; the component closure must
    still collapse the whole boilerplate cluster to ONE survivor."""
    rows = [
        Row(doc_id=i, text="identical mirror page boilerplate body " * 4)
        for i in range(60)
    ] + [
        Row(doc_id=100, text="ornithology field notes on migratory raptors"),
        Row(doc_id=101, text="sourdough hydration ratios for rye flour"),
        Row(doc_id=102, text="tidal harmonics in shallow estuary basins"),
        Row(doc_id=103, text="bytecode verifier passes for stack maps"),
        Row(doc_id=104, text="volcanic ash stratigraphy dating methods"),
    ]
    df = spark.createDataFrame(rows)
    kept = near_dedup(
        df, num_hashes=64, bands=16, threshold=0.5, max_bucket=10
    )
    got = sorted(r["doc_id"] for r in kept.collect())
    assert got == [0, 100, 101, 102, 103, 104]


def test_near_dedup_keep_longest(spark):
    """keep='longest' keeps the longest text per cluster (ties to the
    smaller id); unpaired rows always survive."""
    rows = [
        Row(doc_id=1, text="short copy"),
        Row(doc_id=2, text="the much longer fuller copy of it"),
        Row(doc_id=3, text="mid copy here"),
        Row(doc_id=7, text="same len a"),   # tie cluster: equal lengths
        Row(doc_id=8, text="same len b"),
        Row(doc_id=50, text="unpaired loner"),
    ]
    df = spark.createDataFrame(rows)
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 8)], ["id_a", "id_b"]
    )
    got = sorted(
        r["doc_id"]
        for r in near_dedup(df, pairs=pairs, keep="longest").collect()
    )
    assert got == [2, 7, 50]
    # min_id on the same pairs keeps 1 instead of 2
    got_min = sorted(
        r["doc_id"] for r in near_dedup(df, pairs=pairs).collect()
    )
    assert got_min == [1, 7, 50]
    with pytest.raises(ValueError, match="keep policy"):
        near_dedup(df, pairs=pairs, keep="noisiest")


def test_cluster_stats_histogram(spark):
    """[cluster_size, n_clusters] histogram vs union-find: a 4-cluster,
    two 2-clusters, a 3-cluster."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (30, 31), (31, 32)],
        ["id_a", "id_b"],
    )
    got = {
        r["cluster_size"]: r["n_clusters"]
        for r in cluster_stats(pairs).collect()
    }
    assert got == {2: 2, 3: 1, 4: 1}


def test_near_dedup_custom_pair_policy(spark, near_dup_docs):
    """Any (id_a, id_b) DataFrame works as the pair policy — here the
    exact n-gram Jaccard operator."""
    pairs = ngram_jaccard_pairs(near_dup_docs, shingle_n=5, threshold=0.9)
    edge_list = [(r["id_a"], r["id_b"]) for r in pairs.collect()]
    all_ids = {r["doc_id"] for r in near_dup_docs.select("doc_id").collect()}
    paired = {x for e in edge_list for x in e}
    comp = union_find(edge_list, sorted(paired))
    want = (all_ids - paired) | {n for n in paired if comp[n] == n}
    kept = near_dedup(near_dup_docs, pairs=pairs)
    assert {r["doc_id"] for r in kept.select("doc_id").collect()} == want


# --------------------------------------------------------- semantic dedup


def _semantic_corpus(spark, n_clusters=8, per_cluster=4, n_noise=30, dim=16):
    """Deterministic embeddings: tight cosine clusters (same direction,
    small jitter) + isotropic noise vectors."""
    import numpy as np

    rng = np.random.default_rng(3)
    rows = []
    vid = 0
    for _c in range(n_clusters):
        base = rng.standard_normal(dim)
        base /= np.linalg.norm(base)
        for _ in range(per_cluster):
            v = base + rng.standard_normal(dim) * 0.02
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    for _ in range(n_noise):
        v = rng.standard_normal(dim)
        rows.append((vid, [float(x) for x in v]))
        vid += 1
    return spark.createDataFrame(rows, ["vec_id", "embedding"])


def test_semantic_dedup_brute_oracle(spark):
    """Exact mode: one survivor (min id) per tight cluster, all noise
    survives — verified against a numpy union-find oracle."""
    import numpy as np

    from hyper_spark.operators.graph import semantic_dedup

    df = _semantic_corpus(spark)
    rows = df.collect()
    vecs = {r["vec_id"]: np.array(r["embedding"]) for r in rows}
    ids = sorted(vecs)
    edges = []
    for i in ids:
        for j in ids:
            if i < j:
                a, b = vecs[i], vecs[j]
                cos = a @ b / (np.linalg.norm(a) * np.linalg.norm(b))
                if cos >= 0.9:
                    edges.append((i, j))
    expected = set(ids) - {
        max(i, j) for i, j in edges
    }  # min-id survivor: drop any node reachable from a smaller one
    # transitive: iterate to fixpoint (tiny graph)
    parent = {i: i for i in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for i, j in edges:
        parent[find(i)] = find(j)
    comp = {}
    for i in ids:
        comp.setdefault(find(i), []).append(i)
    expected = {min(members) for members in comp.values()}

    got = {
        r["vec_id"]
        for r in semantic_dedup(df, threshold=0.9, method="brute").collect()
    }
    assert got == expected


def test_semantic_dedup_lsh_recall(spark):
    """LSH mode with enough tables finds the same tight clusters as
    brute (cosine ~0.999 pairs collide in some table w.h.p.)."""
    from hyper_spark.operators.graph import semantic_dedup

    df = _semantic_corpus(spark)
    brute = {
        r["vec_id"]
        for r in semantic_dedup(df, threshold=0.9, method="brute").collect()
    }
    lsh = {
        r["vec_id"]
        for r in semantic_dedup(
            df, threshold=0.9, method="lsh", n_planes=6, n_tables=8
        ).collect()
    }
    assert lsh == brute


def test_semantic_dedup_longest_requires_text(spark):
    from hyper_spark.operators.graph import semantic_dedup

    df = _semantic_corpus(spark)
    with pytest.raises(ValueError):
        semantic_dedup(df, keep="longest")


def test_pagerank_matches_numpy_power_iteration(spark):
    import numpy as np

    from hyper_spark.operators.graph import pagerank

    # weighted digraph with a dangling node (3 has no out-edges)
    edges = [(0, 1, 2.0), (0, 2, 1.0), (1, 2, 1.0), (2, 0, 1.0), (2, 3, 3.0)]
    df = spark.createDataFrame(edges, "src long, dst long, w double")
    got = {
        r["node"]: r["rank"]
        for r in pagerank(df, weight="w", iters=12, damping=0.85).collect()
    }
    n, d = 4, 0.85
    P = np.zeros((n, n))
    for s, t, w in edges:
        P[s, t] = w
    wout = P.sum(axis=1)
    r = np.full(n, 1.0 / n)
    for _ in range(12):
        dm = r[wout == 0].sum()
        contrib = np.zeros(n)
        for s in range(n):
            if wout[s]:
                contrib += r[s] * P[s] / wout[s]
        r = (1 - d) / n + d * (contrib + dm / n)
    assert set(got) == {0, 1, 2, 3}
    assert np.allclose([got[i] for i in range(n)], r, atol=1e-12)
    assert abs(sum(got.values()) - 1.0) < 1e-9  # mass conserved


def test_pagerank_uniform_on_symmetric_cycle(spark):
    from hyper_spark.operators.graph import pagerank

    df = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 0)], "src long, dst long"
    )
    ranks = [r["rank"] for r in pagerank(df, iters=3).collect()]
    assert all(abs(x - 1.0 / 3) < 1e-12 for x in ranks)


def test_pagerank_guards(spark):
    import pytest as _pytest

    from hyper_spark.operators.graph import pagerank

    df = spark.createDataFrame([(0, 1)], "src long, dst long")
    with _pytest.raises(ValueError, match="damping"):
        pagerank(df, damping=1.0)
    with _pytest.raises(ValueError, match="empty"):
        pagerank(df.filter("src < 0"), iters=1)


class TestLabelPropagation:
    @staticmethod
    def _brute(edges, iters):
        from collections import defaultdict

        nbrs = defaultdict(set)
        for a, b in edges:
            if a != b:
                nbrs[a].add(b)
                nbrs[b].add(a)
        labels = {v: v for v in nbrs}
        for _ in range(iters):
            new = {}
            for v in nbrs:
                counts = defaultdict(int)
                for u in nbrs[v]:
                    counts[labels[u]] += 1
                # deterministic: max count, tie -> smallest label
                top = max(counts.values())
                new[v] = min(lab for lab, c in counts.items() if c == top)
            labels = new
        return labels

    def test_matches_brute_force(self, spark):
        from hyper_spark.operators.graph import label_propagation

        # two dense communities bridged by one edge, plus a path
        edges = []
        for base in (0, 100):
            for i in range(8):
                for j in range(i + 1, 8):
                    if (i + j) % 3 != 0:
                        edges.append((base + i, base + j))
        edges.append((7, 100))  # bridge
        edges += [(200 + i, 201 + i) for i in range(6)]  # path
        df = spark.createDataFrame(edges, "id_a long, id_b long")
        for iters in (1, 3, 5):
            got = {
                r["id"]: r["label"]
                for r in label_propagation(df, iters=iters).collect()
            }
            assert got == self._brute(edges, iters), iters

    def test_communities_split_one_component(self, spark):
        """LPA separates two dense cliques joined by a single bridge,
        which connected_components cannot."""
        from hyper_spark.operators.graph import (
            connected_components,
            label_propagation,
        )

        edges = []
        for base in (0, 50):
            for i in range(6):
                for j in range(i + 1, 6):
                    edges.append((base + i, base + j))
        edges.append((0, 50))
        df = spark.createDataFrame(edges, "id_a long, id_b long")
        comp = connected_components(df).select("component").distinct()
        assert comp.count() == 1
        labs = label_propagation(df, iters=5).collect()
        by_label = {}
        for r in labs:
            by_label.setdefault(r["label"], set()).add(r["id"])
        assert {frozenset(v) for v in by_label.values()} == {
            frozenset(range(0, 6)), frozenset(range(50, 56))
        }

    def test_guards_and_plan(self, spark):
        import pytest as _pytest

        from hyper_spark.operators.graph import label_propagation

        df = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
        with _pytest.raises(ValueError, match="iters"):
            label_propagation(df, iters=0)
        plan = (
            label_propagation(df, iters=1)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


class TestClusterSafeSplit:
    def test_clusters_never_straddle_and_unpaired_match_hash_split(self, spark):
        from pyspark.sql import Row

        from hyper_spark.operators.graph import cluster_safe_split
        from hyper_spark.operators.sampling import hash_split

        docs = spark.createDataFrame(
            [Row(doc_id=i, text=f"d{i}") for i in range(400)]
        )
        # chains of near-dup pairs: (10k, 10k+1, 10k+2) for k < 10
        pairs = spark.createDataFrame(
            [(10 * k, 10 * k + 1) for k in range(10)]
            + [(10 * k + 1, 10 * k + 2) for k in range(10)],
            "id_a long, id_b long",
        )
        w = {"train": 0.8, "val": 0.1, "test": 0.1}
        out = cluster_safe_split(docs, pairs, w, seed=42).collect()
        split = {r["doc_id"]: r["split"] for r in out}
        for k in range(10):
            assert split[10 * k] == split[10 * k + 1] == split[10 * k + 2], k
        # unpaired docs draw on their own id == plain hash_split
        paired = {10 * k + j for k in range(10) for j in range(3)}
        plain = {
            r["doc_id"]: r["split"]
            for r in hash_split(docs, "doc_id", w, seed=42).collect()
        }
        for d in range(400):
            if d not in paired:
                assert split[d] == plain[d], d
        # every split is populated at these sizes
        assert {s for s in split.values()} == {"train", "val", "test"}


class TestTriangleCount:
    @staticmethod
    def _brute(edges):
        from collections import defaultdict

        nbrs = defaultdict(set)
        for a, b in edges:
            if a != b:
                nbrs[a].add(b)
                nbrs[b].add(a)
        nodes = sorted(nbrs)
        per = {v: 0 for v in nodes}
        total = 0
        for i, a in enumerate(nodes):
            for b in nodes[i + 1 :]:
                if b not in nbrs[a]:
                    continue
                for c in nodes[nodes.index(b) + 1 :]:
                    if c in nbrs[a] and c in nbrs[b]:
                        total += 1
                        per[a] += 1
                        per[b] += 1
                        per[c] += 1
        return total, per

    def test_cliques_paths_random(self, spark):
        import random as _random

        from hyper_spark.operators.graph import triangle_count

        rng = _random.Random(13)
        cases = [
            [(i, j) for i in range(5) for j in range(i + 1, 5)],  # K5: 10
            [(i, i + 1) for i in range(20)],  # path: 0
            list({(min(a, b), max(a, b))
                  for a, b in ((rng.randrange(40), rng.randrange(40))
                               for _ in range(150)) if a != b}),
        ]
        for edges in cases:
            total, per = self._brute(edges)
            df = spark.createDataFrame(edges, "id_a long, id_b long")
            got_total = triangle_count(df).collect()[0]["n_triangles"]
            assert got_total == total, edges[:3]
            got_per = {
                r["id"]: r["n_triangles"]
                for r in triangle_count(df, per_node=True).collect()
            }
            assert got_per == per, edges[:3]

    def test_messy_input_and_plan(self, spark):
        from hyper_spark.operators.graph import triangle_count

        # self loops, dup edges, both orientations of one triangle
        edges = [(1, 1), (1, 2), (2, 1), (2, 3), (1, 3), (3, 1), (4, 4)]
        df = spark.createDataFrame(edges, "id_a long, id_b long")
        assert triangle_count(df).collect()[0]["n_triangles"] == 1
        per = {r["id"]: r["n_triangles"]
               for r in triangle_count(df, per_node=True).collect()}
        assert per == {1: 1, 2: 1, 3: 1, 4: 0}
        plan = (
            triangle_count(df)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


class TestHyperball:
    @staticmethod
    def _exact_balls(edges, max_hops):
        from collections import defaultdict

        nbrs = defaultdict(set)
        nodes = set()
        for a, b in edges:
            nodes.update((a, b))
            if a != b:
                nbrs[a].add(b)
                nbrs[b].add(a)
        out = {}
        for v in nodes:
            ball = {v}
            out[(v, 0)] = 1
            frontier = {v}
            for t in range(1, max_hops + 1):
                frontier = {u for w in frontier for u in nbrs[w]} - ball
                ball |= frontier
                out[(v, t)] = len(ball)
        return out

    def test_estimates_within_bound(self, spark):
        from hyper_spark.kernel.hll import error_bound

        from hyper_spark.operators.graph import hyperball

        edges = []
        for base in (0, 100):
            for i in range(8):
                for j in range(i + 1, 8):
                    edges.append((base + i, base + j))
        edges.append((7, 100))  # bridge
        edges += [(200 + i, 201 + i) for i in range(8)]  # path
        exact = self._exact_balls(edges, 3)
        df = spark.createDataFrame(edges, "id_a long, id_b long")
        p = 12
        for estimator in ("hllpp", "beta"):
            got = hyperball(df, p=p, max_hops=3, estimator=estimator).collect()
            assert len(got) == len(exact), estimator
            for r in got:
                true = exact[(r["id"], r["hop"])]
                assert (
                    abs(r["estimate"] - true) / true <= error_bound(p)
                ), (estimator, r["id"], r["hop"], r["estimate"], true)

    def test_guards(self, spark):
        import pytest as _pytest

        from hyper_spark.operators.graph import hyperball

        df = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
        with _pytest.raises(ValueError, match="max_hops"):
            hyperball(df, max_hops=-1)
        with _pytest.raises(ValueError, match="estimator"):
            hyperball(df, estimator="loglog")


class TestCoreness:
    @staticmethod
    def _peel(edges):
        """Classic O(E) peel: repeatedly remove a min-degree node;
        coreness = the running max of min-degrees at removal."""
        adj = {}
        for a, b in edges:
            if a == b:
                continue
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
        core = {}
        k = 0
        deg = {v: len(ns) for v, ns in adj.items()}
        while deg:
            v = min(deg, key=lambda x: (deg[x], x))
            k = max(k, deg[v])
            core[v] = k
            for u in adj[v]:
                if u in deg and u != v:
                    deg[u] -= 1
            del deg[v]
            for u in adj[v]:
                adj[u].discard(v)
        return core

    @staticmethod
    def _h_rounds(edges, iters):
        """Synchronous h-index iteration replay (the iters=k contract)."""
        adj = {}
        for a, b in edges:
            if a == b:
                continue
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
        h = {v: len(ns) for v, ns in adj.items()}
        for _ in range(iters):
            new = {}
            for v, ns in adj.items():
                vals = sorted((h[u] for u in ns), reverse=True)
                new[v] = max(
                    (min(i + 1, x) for i, x in enumerate(vals)), default=0
                )
            h = new
        return h

    def test_fixpoint_matches_peel(self, spark):
        import random

        from hyper_spark.operators.graph import coreness

        rng = random.Random(7)
        # clique (core 5) + random sparse graph + path (core 1)
        edges = [(i, j) for i in range(6) for j in range(i + 1, 6)]
        edges += [
            (rng.randrange(20, 60), rng.randrange(20, 60)) for _ in range(80)
        ]
        edges += [(100 + i, 101 + i) for i in range(10)]
        df = spark.createDataFrame(edges, "id_a long, id_b long")
        got = {r["id"]: r["coreness"] for r in coreness(df).collect()}
        want = self._peel(edges)
        # self-loop-only nodes appear at 0 in the operator output
        for v, k in want.items():
            assert got[v] == k, v
        for v in got:
            assert got[v] == want.get(v, 0), v

    def test_fixed_iters_replays_h_iteration(self, spark):
        from hyper_spark.operators.graph import coreness

        # long path: convergence takes ~n/2 rounds, so small iters are
        # a strict upper bound — exactly what the SQL oracle unrolls
        edges = [(i, i + 1) for i in range(14)]
        edges += [(i, j) for i in range(200, 205) for j in range(i + 1, 205)]
        df = spark.createDataFrame(edges, "id_a long, id_b long")
        for iters in (0, 1, 3):
            got = {
                r["id"]: r["coreness"]
                for r in coreness(df, iters=iters).collect()
            }
            assert got == self._h_rounds(edges, iters), iters

    def test_messy_input_and_plan(self, spark):
        import pytest as _pytest

        from hyper_spark.operators.graph import coreness

        edges = [(1, 2), (2, 1), (1, 2), (3, 3), (2, 4), (4, 1)]
        df = spark.createDataFrame(edges, "id_a long, id_b long")
        got = {r["id"]: r["coreness"] for r in coreness(df).collect()}
        # triangle {1,2,4} -> core 2; self-loop-only node 3 -> 0
        assert got == {1: 2, 2: 2, 4: 2, 3: 0}
        with _pytest.raises(ValueError, match="iters"):
            coreness(df, iters=-1)
        plan = (
            coreness(df, iters=1)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
