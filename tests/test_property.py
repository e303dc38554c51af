from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from tests.conftest import both_regimes
from trianglecount_spark.operators import (
    canonicalize_edges,
    orient,
    triangle_count_join,
    triangles_per_vertex_join,
)
from trianglecount_spark.operators.triangles import (
    triangle_count_arrays,
    triangles_per_vertex_arrays,
    triangles_per_vertex_kernel,
)


def er_graph(n: int, p: float, seed: int):
    rng = np.random.Generator(np.random.Philox(key=seed))
    m = rng.random((n, n)) < p
    return [(i, j) for i in range(n) for j in range(i + 1, n) if m[i, j]]


def numpy_triangles(pairs):
    und = {(a, b) for a, b in pairs if a != b}
    und |= {(b, a) for a, b in und}
    verts = sorted({v for e in und for v in e})
    idx = {v: i for i, v in enumerate(verts)}
    A = np.zeros((len(verts), len(verts)), dtype=np.int64)
    for a, b in und:
        A[idx[a], idx[b]] = 1
    return int(np.trace(A @ A @ A) // 6)


@pytest.mark.parametrize("seed,n,p", [(1, 30, 0.2), (2, 40, 0.15), (3, 25, 0.35)])
def test_random_graph_all_strategies_agree(spark, seed, n, p, monkeypatch):
    pairs = er_graph(n, p, seed)
    want = numpy_triangles(pairs)
    e = spark.createDataFrame(pairs, "src long, dst long")
    o = orient(canonicalize_edges(e))
    assert triangle_count_join(o) == want
    # kernel form, multiple partitionings + forced salting
    pv_ref = {r.v: r.tri for r in triangles_per_vertex_join(o).collect()}
    for k, thr in [(1, 4096), (4, 4096), (4, 3)]:
        pv = {
            r.v: r.tri
            for r in triangles_per_vertex_kernel(
                o, n_parts=k, salt_threshold=thr, n_salts=4
            ).collect()
        }
        assert pv == pv_ref, (k, thr)
    assert sum(pv_ref.values()) == want
    # arrays form, resident and distributed regimes
    for total, rows in both_regimes(monkeypatch, lambda: (
        triangle_count_arrays(o), triangles_per_vertex_arrays(o).collect()
    )):
        assert total == want
        assert {r.v: r.tri for r in rows} == pv_ref


@pytest.mark.parametrize("seed,n,p", [(11, 30, 0.15), (12, 40, 0.1)])
def test_random_graph_primitive_invariants(spark, seed, n, p):
    """MIS / matching / coloring invariants on seeded random graphs."""
    from trianglecount_spark.operators.matching import maximal_matching
    from trianglecount_spark.operators.mis import luby_coloring, maximal_independent_set

    pairs = er_graph(n, p, seed)
    e = spark.createDataFrame(pairs, "src long, dst long")
    sym = canonicalize_edges(e).cache()
    edges = {(r.src, r.dst) for r in sym.collect()}
    verts = {v for ed in edges for v in ed}

    mis = {r.v for r in maximal_independent_set(sym, max_iter=12).collect()}
    assert not any((a, b) in edges for a in mis for b in mis)
    assert all(any((v, m) in edges for m in mis) for v in verts - mis)

    m = [(r.src, r.dst) for r in maximal_matching(sym, max_iter=12).collect()]
    used = [v for ed in m for v in ed]
    assert len(used) == len(set(used))
    assert all(a in set(used) or b in set(used) for a, b in edges)

    colors = {r.v: r.color for r in luby_coloring(sym, n_colors=10, mis_rounds=8).collect()}
    assert not any(colors.get(a) == colors.get(b) for a, b in edges if a in colors and b in colors)


@pytest.mark.parametrize("seed,n,p", [(11, 24, 0.18), (12, 30, 0.12)])
def test_stress_centrality_matches_bruteforce(spark, seed, n, p):
    """stress = sigma·tau must equal a brute-force numpy count of
    shortest s->t paths passing through each vertex."""
    from trianglecount_spark.operators.canonicalize import canonicalize_edges
    from trianglecount_spark.operators.metrics import stress_centrality

    rng = np.random.RandomState(seed)
    pairs = [
        (i, j) for i in range(n) for j in range(i + 1, n) if rng.rand() < p
    ]
    if not pairs:
        pytest.skip("empty graph")
    sym = canonicalize_edges(spark.createDataFrame(pairs, "src long, dst long"))
    rounds = 6
    got = {
        r.v: (r.dist, r.sigma, r.n_paths_through)
        for r in stress_centrality(sym, source=0, rounds=rounds).collect()
    }

    # numpy brute force: BFS levels + DAG path DP from source 0
    adj = {i: set() for i in range(n)}
    for a, b in pairs:
        adj[a].add(b)
        adj[b].add(a)
    dist = {0: 0}
    frontier = [0]
    for d in range(1, rounds + 1):
        nxt = sorted(
            {w for v in frontier for w in adj[v] if w not in dist}
        )
        for w in nxt:
            dist[w] = d
        frontier = nxt
    sigma = {0: 1}
    for d in range(1, rounds + 1):
        for v in [x for x in dist if dist[x] == d]:
            sigma[v] = sum(
                sigma[u] for u in adj[v] if dist.get(u, -2) == d - 1
            )
    tau = {}
    for d in range(rounds, -1, -1):
        for v in [x for x in dist if dist[x] == d]:
            succ = [w for w in adj[v] if dist.get(w, -2) == d + 1]
            tau[v] = sum(1 + tau[w] for w in succ)
    want = {v: (dist[v], sigma[v], sigma[v] * tau[v]) for v in dist}
    assert got == want


@pytest.mark.parametrize("seed,n,p", [(21, 22, 0.25)])
def test_link_prediction_ra_matches_bruteforce(spark, seed, n, p):
    from trianglecount_spark.operators.canonicalize import canonicalize_edges
    from trianglecount_spark.operators.metrics import link_prediction_ra

    rng = np.random.RandomState(seed)
    pairs = [
        (i, j) for i in range(n) for j in range(i + 1, n) if rng.rand() < p
    ]
    sym = canonicalize_edges(spark.createDataFrame(pairs, "src long, dst long"))
    got = {
        (r.u, r.w): (r.common, r.ra_millionths)
        for r in link_prediction_ra(sym, min_common=1).collect()
    }
    adj = {}
    for a, b in pairs:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    edges = {(min(a, b), max(a, b)) for a, b in pairs}
    want = {}
    for u in adj:
        for w in adj:
            if u < w and (u, w) not in edges:
                cn = adj[u] & adj[w]
                if cn:
                    want[(u, w)] = (
                        len(cn),
                        sum(1000000 // len(adj[v]) for v in cn),
                    )
    assert got == want
