"""Graph operators — operators/graph.py."""

from __future__ import annotations

from polygon_algotrading_env_spark.operators.graph import connected_components


def _clusters(rows):
    return {r.id: r.component for r in rows}


def test_chain_triangle_isolated(spark):
    # chain 0-1-2-3-4, triangle 10-11-12, isolated vertex 20 (via vertices)
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (12, 10)],
        "src long, dst long",
    )
    vertices = spark.createDataFrame([(i,) for i in [0, 1, 2, 3, 4, 10, 11, 12, 20]],
                                     "id long")
    got = _clusters(connected_components(edges, vertices=vertices).collect())
    assert got == {0: 0, 1: 0, 2: 0, 3: 0, 4: 0, 10: 10, 11: 10, 12: 10, 20: 20}


def test_direction_duplicates_self_loops_ignored(spark):
    edges = spark.createDataFrame(
        [(5, 3), (3, 5), (5, 3), (7, 7)], "src long, dst long"
    )
    got = _clusters(connected_components(edges).collect())
    assert got == {3: 3, 5: 3, 7: 7}


def test_long_chain_converges_in_log_rounds(spark):
    # 64-vertex chain: O(diameter) propagation would need 63 rounds;
    # pointer jumping must finish well within max_rounds=10.
    n = 64
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "src long, dst long"
    )
    got = _clusters(connected_components(edges, max_rounds=10).collect())
    assert got == {i: 0 for i in range(n)}


def test_matches_bruteforce_on_random_graph(spark):
    import random

    rng = random.Random(7)
    n, m = 120, 90
    edge_list = [(rng.randrange(n), rng.randrange(n)) for _ in range(m)]

    # union-find reference
    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edge_list:
        parent[find(a)] = find(b)
    # canonical label = min member id per root
    members: dict[int, list[int]] = {}
    for i in range(n):
        members.setdefault(find(i), []).append(i)
    expected = {i: min(members[find(i)]) for i in range(n)}

    edges = spark.createDataFrame(edge_list, "src long, dst long")
    vertices = spark.createDataFrame([(i,) for i in range(n)], "id long")
    got = _clusters(connected_components(edges, vertices=vertices).collect())
    assert got == expected


def test_raises_when_rounds_exhausted(spark):
    import pytest

    # A 64-chain cannot reach a fixpoint in 1 round — must fail loudly,
    # never return silently-wrong labels (one round leaves 62 components).
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(63)], "src long, dst long"
    )
    with pytest.raises(RuntimeError, match="fixpoint"):
        connected_components(edges, max_rounds=1)


def test_graph_operators_release_their_cache_pins(spark):
    """Every graph operator releases what it persists once its result is
    built: after collecting each result the CacheManager holds nothing
    (``localCheckpoint`` pins never register there)."""
    from polygon_algotrading_env_spark.operators import graph as G

    pairs = [(0, 1), (1, 2), (2, 0), (2, 3), (3, 4), (10, 11)]
    edges = spark.createDataFrame(pairs, "src long, dst long")
    weighted = spark.createDataFrame(
        [(u, v, u + v) for u, v in pairs], "src long, dst long, w long"
    )
    verts = spark.createDataFrame([(i,) for i in (0, 1, 2, 3, 4, 99)], "id long")
    runs = {
        "connected_components": lambda: G.connected_components(edges),
        "triangle_count": lambda: G.triangle_count(edges),
        "pagerank": lambda: G.pagerank(edges, n_iter=5),
        "personalized_pagerank": lambda: G.personalized_pagerank(edges, [0], n_iter=5),
        "label_propagation": lambda: G.label_propagation(edges, n_iter=5),
        "label_propagation(vertices)": lambda: G.label_propagation(
            edges, vertices=verts, n_iter=3
        ),
        "k_core": lambda: G.k_core(edges, k=2, n_rounds=7),
        "bfs_hops": lambda: G.bfs_hops(edges, seeds=[0], n_rounds=7),
        "hash_min_labels": lambda: G.hash_min_labels(edges, n_rounds=5),
        "bellman_ford": lambda: G.bellman_ford(weighted, seeds=[0], n_rounds=7),
    }
    cache = spark._jsparkSession.sharedState().cacheManager()
    held = []
    for name, run in runs.items():
        spark.catalog.clearCache()
        assert run().collect()
        if not cache.isEmpty():
            held.append(name)
    assert not held, f"cache entries left behind by {held}"


def test_triangle_count_known_graphs(spark):
    import pyspark.sql.functions as F

    from polygon_algotrading_env_spark.operators.graph import triangle_count

    def n_tri(pairs):
        df = spark.createDataFrame(pairs, "src long, dst long")
        return triangle_count(df).collect()[0]["n_triangles"]

    # triangle + pendant edge
    assert n_tri([(1, 2), (2, 3), (3, 1), (3, 4)]) == 1
    # K4 has 4 triangles; duplicates/self-loops/reversed edges ignored
    k4 = [(a, b) for a in range(4) for b in range(4) if a != b]
    assert n_tri(k4 + [(0, 0), (1, 1)]) == 4
    # bipartite: none
    assert n_tri([(1, 10), (2, 10), (1, 20), (2, 20)]) == 0
    # star (power-law hub): no triangles, and the orientation keeps the
    # hub's out-degree low rather than exploding wedges
    assert n_tri([(0, i) for i in range(1, 50)]) == 0
    # ring of 5 + one chord -> exactly 1 triangle
    assert n_tri([(i, (i + 1) % 5) for i in range(5)] + [(0, 2)]) == 1


def test_pagerank_matches_dense_power_iteration(spark):
    import numpy as np

    from polygon_algotrading_env_spark.operators.graph import pagerank

    # directed graph with a dangling node (3) and a cycle
    edges = [(0, 1), (0, 2), (1, 2), (2, 0), (1, 3)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["id"]: r["rank"] for r in pagerank(df, n_iter=25).collect()}

    n, d = 4, 0.85
    r = np.full(n, 1.0 / n)
    out = {0: [1, 2], 1: [2, 3], 2: [0], 3: []}
    for _ in range(25):
        nxt = np.full(n, (1 - d) / n)
        nxt += d * sum(r[u] for u, vs in out.items() if not vs) / n
        for u, vs in out.items():
            for v in vs:
                nxt[v] += d * r[u] / len(vs)
        r = nxt
    for i in range(n):
        assert abs(got[i] - r[i]) < 1e-9, (i, got[i], r[i])
    assert abs(sum(got.values()) - 1.0) < 1e-9
    # the cycle hub (0 <- 2 <- everyone) outranks the dangling leaf
    assert got[0] > got[3]


# --- label propagation ----------------------------------------------------

def _lpa_ref(edges, n_iter):
    """Straight-line synchronous LPA with min-label tiebreak."""
    from collections import Counter

    adj: dict = {}
    for u, v in edges:
        if u == v:
            continue
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    labels = {x: x for x in adj}
    for _ in range(n_iter):
        new = {}
        for x, nbrs in adj.items():
            counts = Counter(labels[n] for n in nbrs)
            top = max(counts.values())
            new[x] = min(l for l, c in counts.items() if c == top)
        labels = new
    return labels


def test_label_propagation_matches_reference(spark):
    from polygon_algotrading_env_spark.operators.graph import label_propagation

    # two 4-cliques + a bridge: communities must NOT merge across it
    cliq_a = [(a, b) for a in range(1, 5) for b in range(1, 5) if a < b]
    cliq_b = [(a, b) for a in range(5, 9) for b in range(5, 9) if a < b]
    edges = cliq_a + cliq_b + [(4, 5)]
    df = spark.createDataFrame(edges, ["src", "dst"]).repartition(5)
    got = {
        r["id"]: r["label"]
        for r in label_propagation(df, n_iter=6).collect()
    }
    ref = _lpa_ref(edges, 6)
    assert got == ref
    # the bridge did not merge the cliques
    assert got[1] != got[8]
    assert len({got[i] for i in range(1, 5)}) == 1
    assert len({got[i] for i in range(5, 9)}) == 1


def test_label_propagation_isolated_vertex_keeps_label(spark):
    from polygon_algotrading_env_spark.operators.graph import label_propagation

    df = spark.createDataFrame([(1, 2)], ["src", "dst"])
    verts = spark.createDataFrame([(1,), (2,), (99,)], ["id"])
    got = {
        r["id"]: r["label"]
        for r in label_propagation(df, vertices=verts, n_iter=3).collect()
    }
    assert got[99] == 99
    assert got[1] in (1, 2) and got[2] in (1, 2)


def test_personalized_pagerank_matches_reference(spark):
    """PPR vs a dense numpy power iteration on a small directed graph:
    same update rule (teleport AND dangling mass to the seed vector),
    same iteration count — ranks agree to float tolerance, and mass
    concentrates near the seeds."""
    import numpy as np
    import pytest as _pytest

    from polygon_algotrading_env_spark.operators.graph import (
        personalized_pagerank,
    )

    # 0->1->2->0 cycle, 3 dangling hanging off 1, 4 isolated-ish (3->4)
    edge_list = [(0, 1), (1, 2), (2, 0), (1, 3), (3, 4)]
    edges = spark.createDataFrame(edge_list, "src long, dst long")
    seeds, d, iters = [0], 0.85, 12
    got = {
        r["id"]: r["rank"]
        for r in personalized_pagerank(
            edges, seeds, damping=d, n_iter=iters
        ).collect()
    }

    n = 5
    A = np.zeros((n, n))
    for u, v in edge_list:
        A[u, v] = 1.0
    outdeg = A.sum(axis=1)
    p = np.zeros(n)
    p[seeds] = 1.0 / len(seeds)
    r = p.copy()
    for _ in range(iters):
        inflow = np.zeros(n)
        for u in range(n):
            if outdeg[u]:
                inflow += r[u] * A[u] / outdeg[u]
        dangling = r[outdeg == 0].sum()
        r = (1 - d) * p + d * dangling * p + d * inflow
    for i in range(n):
        assert abs(got[i] - r[i]) < 1e-9, (i, got[i], r[i])
    assert got[0] == max(got.values())  # mass concentrates at the seed
    with _pytest.raises(ValueError):
        personalized_pagerank(edges, [])


def test_k_core_peels_tails_and_keeps_clique(spark):
    """4-clique + a pendant chain: the 3-core is exactly the clique (each
    member has in-core degree 3); chain vertices peel over successive
    rounds (the cascade the fixed-round loop must propagate); converged
    flag set. k above the clique degree empties the core."""
    from polygon_algotrading_env_spark.operators.graph import k_core

    clique = [(a, b) for a in range(4) for b in range(4) if a < b]
    chain = [(3, 4), (4, 5), (5, 6)]
    edges = spark.createDataFrame(clique + chain, "src long, dst long")

    out = k_core(edges, k=3, n_rounds=6).collect()
    got = {r["id"]: (r["core_degree"], r["converged"]) for r in out}
    assert set(got) == {0, 1, 2, 3}
    assert all(v == (3, True) for v in got.values()), got

    assert k_core(edges, k=4, n_rounds=6).count() == 0


def test_k_core_unconverged_cap_is_loud(spark):
    """A long chain with k=1 peels one endpoint... stays converged;
    instead force non-convergence: k=2 on a 12-vertex path removes the
    two endpoints each round — 1 round is NOT a fixpoint and the flag
    must say so."""
    from polygon_algotrading_env_spark.operators.graph import k_core

    path = [(i, i + 1) for i in range(11)]
    edges = spark.createDataFrame(path, "src long, dst long")
    out = k_core(edges, k=2, n_rounds=1).collect()
    assert out and all(r["converged"] is False for r in out)
    # enough rounds: path fully dissolves (no 2-core in a tree)
    assert k_core(edges, k=2, n_rounds=6).count() == 0


def test_bfs_hops_path_graph(spark):
    """5-vertex path seeded at one end: hops are exactly the path
    distances and the flag converges once rounds cover the diameter."""
    from polygon_algotrading_env_spark.operators.graph import bfs_hops

    path = [(i, i + 1) for i in range(4)]
    edges = spark.createDataFrame(path, "src long, dst long")
    out = bfs_hops(edges, seeds=[0], n_rounds=6).collect()
    got = {r["id"]: r["hops"] for r in out}
    assert got == {0: 0, 1: 1, 2: 2, 3: 3, 4: 4}
    assert all(r["converged"] for r in out)


def test_bfs_hops_unconverged_cap_is_loud(spark):
    """One round on the same path reaches only hop 1 — the flag must say
    the cap truncated the frontier."""
    from polygon_algotrading_env_spark.operators.graph import bfs_hops

    path = [(i, i + 1) for i in range(4)]
    edges = spark.createDataFrame(path, "src long, dst long")
    out = bfs_hops(edges, seeds=[0], n_rounds=1).collect()
    got = {r["id"]: r["hops"] for r in out}
    assert got == {0: 0, 1: 1}
    assert all(r["converged"] is False for r in out)


def test_bfs_hops_multi_source_takes_min(spark):
    """Two seeds on the path: every vertex gets the min distance to any
    seed (the multi-source BFS contract); disconnected vertices never
    appear."""
    from polygon_algotrading_env_spark.operators.graph import bfs_hops

    path = [(i, i + 1) for i in range(4)] + [(100, 101)]
    edges = spark.createDataFrame(path, "src long, dst long")
    out = bfs_hops(edges, seeds=[0, 4], n_rounds=6).collect()
    got = {r["id"]: r["hops"] for r in out}
    assert got == {0: 0, 4: 0, 1: 1, 3: 1, 2: 2}


def test_adamic_adar_matches_python_reference(spark, sf_dir):
    """The registered AA link-prediction query vs a straight-Python
    computation of the same semantics over the same fixture parquet."""
    import math
    from collections import defaultdict

    from polygon_algotrading_env_spark.queries import REGISTRY

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").collect()
    by_s = defaultdict(set)
    for r in li:
        if r["l_quantity"] >= 48:
            by_s[r["l_suppkey"]].add(r["l_partkey"])
    scores: dict[tuple[int, int], float] = defaultdict(float)
    common: dict[tuple[int, int], int] = defaultdict(int)
    for s, parts in by_s.items():
        d = len(parts)
        if d < 2:
            continue
        ps = sorted(parts)
        for i in range(len(ps)):
            for j in range(i + 1, len(ps)):
                scores[(ps[i], ps[j])] += 1.0 / math.log(d)
                common[(ps[i], ps[j])] += 1
    want = sorted(
        ((round(v, 6), a, b) for (a, b), v in scores.items()),
        key=lambda t: (-t[0], t[1], t[2]),
    )[:20]
    got = REGISTRY["adamic_adar_part_links"].fn(spark, sf_dir).collect()
    assert [(r["aa_score"], r["part_a"], r["part_b"]) for r in got] == want
    assert all(
        r["n_common"] == common[(r["part_a"], r["part_b"])] for r in got
    )


def test_hash_min_labels_single_round_algebraic(spark):
    """The r15 round-1 algebraic skip (round 1 against identity labels
    is groupBy(u).min(least(u, v)) over the symmetric edge set): at
    n_rounds=1 the output must be exactly min(id, min neighbors), and
    converged must stay FALSE whenever round 1 changed any label
    (penult is the identity — the pre-rewrite semantics)."""
    from polygon_algotrading_env_spark.operators.graph import (
        hash_min_labels,
    )

    # 4 -- 7, 9 -- 8: one round reaches each component's min, but the
    # round itself changed labels (7 and 9), so converged is False.
    edges = spark.createDataFrame(
        [(7, 4), (9, 8)], "src long, dst long"
    )
    out = hash_min_labels(edges, n_rounds=1).collect()
    got = {r["id"]: r["label"] for r in out}
    assert got == {4: 4, 7: 4, 8: 8, 9: 8}
    assert not any(r["converged"] for r in out)

    # chain 1-2-3-4: after one round 4 holds 3, not 1 => unconverged.
    chain = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4)], "src long, dst long"
    )
    out = hash_min_labels(chain, n_rounds=1).collect()
    got = {r["id"]: r["label"] for r in out}
    assert got == {1: 1, 2: 1, 3: 2, 4: 3}
    assert not any(r["converged"] for r in out)


def test_hash_min_labels_components_and_flag(spark):
    """Two components: labels are each component's min id; one round on
    a long chain must report unconverged."""
    from polygon_algotrading_env_spark.operators.graph import (
        hash_min_labels,
    )

    edges = spark.createDataFrame(
        [(5, 3), (3, 9), (20, 21)], "src long, dst long"
    )
    out = hash_min_labels(edges, n_rounds=6).collect()
    got = {r["id"]: r["label"] for r in out}
    assert got == {3: 3, 5: 3, 9: 3, 20: 20, 21: 20}
    assert all(r["converged"] for r in out)

    chain = [(i, i + 1) for i in range(9, 0, -1)]  # labels flow uphill
    edges = spark.createDataFrame(chain, "src long, dst long")
    short = hash_min_labels(edges, n_rounds=2).collect()
    assert all(r["converged"] is False for r in short)
    full = hash_min_labels(edges, n_rounds=12).collect()
    assert all(r["label"] == 1 and r["converged"] for r in full)


def test_entity_resolution_crafted_duplicates(spark):
    """Hand-built catalog with a known duplicate cluster: three listings
    of the same product (tiny edit distances, adjacent sizes) must fold
    into one cluster whose golden record is the min partkey; an
    unrelated same-block listing with a far name must stay out."""
    import os
    import tempfile

    import pandas as pd

    from polygon_algotrading_env_spark.queries import REGISTRY

    rows = pd.DataFrame(
        {
            "p_partkey": [1, 2, 3, 4, 5],
            "p_name": [
                "red widget",
                "reed widget",   # lev 1 to #1 (typo outside the block key)
                "redd widget",   # lev 1 to #1
                "turquoise widget",  # same block, lev 8 — no match
                "red bolt",      # different noun — different block
            ],
            "p_brand": ["Brand#1"] * 5,
            "p_type": ["t"] * 5,
            "p_size": [10, 10, 11, 10, 10],
            "p_retailprice": [1.0] * 5,
        }
    )
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(rows).write.parquet(
            os.path.join(d, "part.parquet")
        )
        out = REGISTRY["entity_resolution_parts"].fn(spark, d).collect()
    assert len(out) == 1
    (c,) = out
    assert c["cluster_id"] == 1
    assert c["n_members"] == 3
    assert c["n_distinct_names"] == 3
    assert c["canonical_name"] == "red widget"
    assert c["converged"]


def test_bellman_ford_weighted_path(spark):
    """Weighted diamond: the 2-hop cheap route (1+1) must beat the
    1-hop expensive edge (5); a round cap too small to propagate the
    improvement must report unconverged."""
    from polygon_algotrading_env_spark.operators.graph import bellman_ford

    edges = spark.createDataFrame(
        [(0, 9, 5), (0, 1, 1), (1, 9, 1), (9, 7, 1)],
        "src long, dst long, w long",
    )
    out = bellman_ford(edges, seeds=[0], n_rounds=6).collect()
    got = {r["id"]: r["dist"] for r in out}
    assert got == {0: 0, 1: 1, 9: 2, 7: 3}
    assert all(r["converged"] for r in out)

    # one round: 9 still holds the direct cost 5; flag must be False
    short = bellman_ford(edges, seeds=[0], n_rounds=1).collect()
    got1 = {r["id"]: r["dist"] for r in short}
    assert got1[9] == 5
    assert all(r["converged"] is False for r in short)


def test_bellman_ford_duplicate_edges_keep_min(spark):
    from polygon_algotrading_env_spark.operators.graph import bellman_ford

    edges = spark.createDataFrame(
        [(0, 1, 7), (0, 1, 2), (1, 0, 9)],
        "src long, dst long, w long",
    )
    out = bellman_ford(edges, seeds=[0], n_rounds=3).collect()
    got = {r["id"]: r["dist"] for r in out}
    assert got == {0: 0, 1: 2}


def test_fixpoint_probe_exit_is_bit_identical(spark):
    """The superstep loop's fixpoint probe (equal reached counts at two
    cadence pins prove every remaining round a no-op) stops early and
    returns the same rows — values AND the converged flag — as the full
    cap: on a star, which converges in one round, and on a path still
    moving at the cap, where the probe must not fire."""
    import pyspark.sql.functions as F

    from polygon_algotrading_env_spark.operators.graph import (
        _converged,
        _looped_edges,
        _supersteps,
    )

    def run(pairs, rounds, probe):
        sym = _looped_edges(
            spark.createDataFrame(pairs, "src long, dst long"), "src", "dst", [1]
        )
        ran = []

        def step(reached, i):
            ran.append(i)
            return (
                sym.join(
                    reached.select(F.col("id").alias("u"), F.col("hops").alias("h")),
                    "u",
                )
                .select(
                    F.col("v").alias("id"),
                    (F.col("h") + (F.col("u") != F.col("v")).cast("int")).alias("hops"),
                )
                .groupBy("id")
                .agg(F.min("hops").alias("hops"))
            )

        start = spark.createDataFrame([(1, 0)], "id BIGINT, hops INT")
        last, prev = _supersteps(start, step, rounds, 2, probe)
        rows = _converged(last, prev, "hops", revisable=False).collect()
        return sorted(tuple(r) for r in rows), len(ran)

    star = [(1, i) for i in range(2, 10)]
    early, n_early = run(star, 8, lambda df: df.count())
    full, n_full = run(star, 8, None)
    assert (n_early, n_full) == (4, 8)
    assert early == full
    assert all(r[2] for r in early)  # converged

    path = [(i, i + 1) for i in range(1, 12)]
    early, n_early = run(path, 4, lambda df: df.count())
    full, _ = run(path, 4, None)
    assert n_early == 4
    assert early == full
    assert not any(r[2] for r in early)  # still moving at the cap
