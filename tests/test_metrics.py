from __future__ import annotations

from pyspark.sql import functions as F

from trianglecount_spark.operators.canonicalize import canonicalize_edges
from trianglecount_spark.operators.metrics import clustering_coefficient, k_core


def _sym(spark, pairs):
    return canonicalize_edges(
        spark.createDataFrame(pairs, "src long, dst long")
    )


def test_clustering_coefficient_golden(spark):
    # triangle 0-1-2 with pendant 3 hanging off 2
    sym = _sym(spark, [(0, 1), (1, 2), (0, 2), (2, 3)])
    got = {r.v: (r.deg, r.tri, r.lcc) for r in clustering_coefficient(sym).collect()}
    assert got[0] == (2, 1, 1.0)
    assert got[1] == (2, 1, 1.0)
    assert got[2] == (3, 1, 2 * 1 / (3 * 2))
    assert got[3] == (1, 0, 0.0)


def test_clustering_coefficient_clique(spark):
    # K4: every vertex has deg 3, tri 3, lcc 1
    k4 = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    got = clustering_coefficient(_sym(spark, k4)).collect()
    assert all((r.deg, r.tri, r.lcc) == (3, 3, 1.0) for r in got)


def test_k_core_peeling_cascade(spark):
    # K4 core with a path 3-4-5-6 hanging off: k=2 peeling removes the
    # path one vertex per round (a genuine cascade), keeps the clique
    k4 = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    sym = _sym(spark, k4 + [(3, 4), (4, 5), (5, 6)])
    core, log = k_core(sym, k=2, max_rounds=8)
    got = {r.v: r.deg_core for r in core.collect()}
    assert got == {0: 3, 1: 3, 2: 3, 3: 3}
    # k above the degeneracy: empty core
    core3, _ = k_core(sym, k=4, max_rounds=8)
    assert core3.count() == 0


def test_bfs_distances_goldens(spark):
    from trianglecount_spark.operators.metrics import bfs_distances

    # path 0-1-2-3-4 with a chord 0-3
    sym = _sym(spark, [(0, 1), (1, 2), (2, 3), (3, 4), (0, 3)])
    dist, _ = bfs_distances(sym, 0, max_rounds=16)
    got = {r.v: r.dist for r in dist.collect()}
    assert got == {0: 0, 1: 1, 2: 2, 3: 1, 4: 2}

    # disconnected component never reached
    sym2 = _sym(spark, [(0, 1), (5, 6)])
    dist2, _ = bfs_distances(sym2, 0, max_rounds=16)
    got2 = {r.v: r.dist for r in dist2.collect()}
    assert got2 == {0: 0, 1: 1}


def test_frontier_ops_shuffle_fallback_parity(spark, monkeypatch):
    """The shuffle plan (the 10^12-vertex regime where a broadcast
    would hard-fail), forced by shrinking the broadcast ceilings,
    returns results identical to the broadcast plan this small graph
    gets for BFS, SSSP, and shortest-path counting."""
    from pyspark.sql import functions as F

    from tests.conftest import both_regimes
    from trianglecount_spark.operators.metrics import (
        bfs_distances,
        shortest_path_counts,
        sssp_distances,
    )

    sym = _sym(spark, [(0, 1), (1, 2), (2, 3), (3, 4), (0, 3), (1, 4)])

    def bfs():
        dist, log = bfs_distances(sym, 0, max_rounds=8)
        return {(r.v, r.dist) for r in dist.collect()}, log.rounds[-1]["regime"]

    b1, b2 = both_regimes(monkeypatch, bfs)
    assert b1 == (b2[0], "broadcast") and b2[1] == "shuffle"

    we = sym.withColumn("w", F.col("src") % 3 + 1)

    def sssp():
        dist, log = sssp_distances(we, 0, rounds=5)
        return {(r.v, r.d) for r in dist.collect()}, log.rounds[-1]["regime"]

    s1, s2 = both_regimes(monkeypatch, sssp)
    assert s1 == (s2[0], "broadcast") and s2[1] == "shuffle"

    c1, c2 = both_regimes(
        monkeypatch,
        lambda: {
            (r.v, r.dist, r.sigma)
            for r in shortest_path_counts(sym, 0, rounds=4).collect()
        },
    )
    assert c1 == c2


def test_personalized_pagerank_allclose_numpy(spark):
    import numpy as np

    from pyspark.sql import functions as F

    from trianglecount_spark.operators.pagerank import pagerank

    raw = [(0, 1), (1, 2), (2, 0), (2, 3), (3, 4), (4, 5), (5, 3), (1, 4)]
    sym = _sym(spark, raw)
    seeds = [0, 3]
    tele = spark.createDataFrame(
        [(s, 1.0 / len(seeds)) for s in seeds], "v long, s double"
    )
    ranks, _ = pagerank(sym, tol=0.0, max_iter=60, check_every=60, teleport=tele)
    got = {r.v: r.rank for r in ranks.collect()}

    und = {(a, b) for a, b in raw} | {(b, a) for a, b in raw}
    verts = sorted({v for e in und for v in e})
    idx = {v: i for i, v in enumerate(verts)}
    n = len(verts)
    A = np.zeros((n, n))
    for a, b in und:
        A[idx[b], idx[a]] = 1.0
    outdeg = A.sum(axis=0)
    s = np.zeros(n)
    for v in seeds:
        s[idx[v]] = 1.0 / len(seeds)
    alpha = 0.85
    r = s.copy()
    for _ in range(60):
        tilde = alpha * (A @ (r / outdeg))
        r = tilde + (1.0 - tilde.sum()) * s
    assert abs(sum(got.values()) - 1.0) < 1e-9
    for v in verts:
        assert abs(got[v] - r[idx[v]]) < 1e-9, (v, got[v], r[idx[v]])


def test_k_core_fixed_rounds_match_fixpoint(spark):
    # early stop (max_rounds ample) equals exact NumPy-style peeling
    import itertools

    edges = [(a, b) for a, b in itertools.combinations(range(6), 2) if (a + b) % 3]
    sym = _sym(spark, edges)
    core, _ = k_core(sym, k=3, max_rounds=8)
    got = {(r.v, r.deg_core) for r in core.collect()}

    cur = {(s, d) for s, d in edges} | {(d, s) for s, d in edges}
    while True:
        import collections

        deg = collections.Counter(s for s, _ in cur)
        keep = {v for v, c in deg.items() if c >= 3}
        nxt = {(s, d) for s, d in cur if s in keep and d in keep}
        if nxt == cur:
            break
        cur = nxt
    import collections

    want = set(collections.Counter(s for s, _ in cur).items())
    assert got == want


def test_edge_support_goldens(spark):
    from trianglecount_spark.operators.truss import edge_support

    # diamond: shared edge (1,2) in 2 triangles, the rest in 1
    sym = _sym(spark, [(0, 1), (0, 2), (1, 2), (1, 3), (2, 3)])
    got = {(r.src, r.dst): r.support for r in edge_support(sym).collect()}
    assert got == {(0, 1): 1, (0, 2): 1, (1, 2): 2, (1, 3): 1, (2, 3): 1}

    # pendant edge must appear with support 0
    sym2 = _sym(spark, [(0, 1), (1, 2), (0, 2), (2, 3)])
    got2 = {(r.src, r.dst): r.support for r in edge_support(sym2).collect()}
    assert got2[(2, 3)] == 0 and got2[(0, 1)] == 1


def test_k_truss_peels_cascade(spark):
    from trianglecount_spark.operators.truss import k_truss

    # K4 with a pendant triangle hanging off vertex 3: the 4-truss keeps
    # exactly the K4 (every edge in 2 triangles), peels the triangle
    k4 = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    sym = _sym(spark, k4 + [(3, 4), (4, 5), (3, 5)])
    truss, _ = k_truss(sym, k=4, max_rounds=8)
    got = {(r.src, r.dst): r.support for r in truss.collect()}
    assert got == {(a, b): 2 for a, b in k4}

    # diamond: 4-truss unravels completely (the shared edge loses its
    # support once the side edges go — a genuine 2-round cascade)
    sym2 = _sym(spark, [(0, 1), (0, 2), (1, 2), (1, 3), (2, 3)])
    truss2, _ = k_truss(sym2, k=4, max_rounds=8)
    assert truss2.count() == 0


def test_k_truss_of_clique_is_clique(spark):
    from trianglecount_spark.operators.truss import k_truss

    # K5 is its own 5-truss: every edge in exactly 3 triangles
    k5 = [(a, b) for a in range(5) for b in range(a + 1, 5)]
    truss, _ = k_truss(_sym(spark, k5), k=5, max_rounds=8)
    got = {(r.src, r.dst): r.support for r in truss.collect()}
    assert got == {(a, b): 3 for a, b in k5}


def test_butterfly_count_goldens(spark):
    from trianglecount_spark.operators.metrics import butterfly_count

    def bip(pairs):
        return spark.createDataFrame(pairs, "src long, dst long")

    # K_{2,2} is exactly one butterfly; K_{2,3} has C(3,2)=3; K_{3,3} has 9
    k22 = bip([(0, 10), (0, 11), (1, 10), (1, 11)])
    k23 = bip([(a, b) for a in (0, 1) for b in (10, 11, 12)])
    k33 = bip([(a, b) for a in (0, 1, 2) for b in (10, 11, 12)])
    star = bip([(0, b) for b in range(10, 15)])
    assert butterfly_count(k22).collect()[0][0] == 1
    assert butterfly_count(k23).collect()[0][0] == 3
    assert butterfly_count(k33).collect()[0][0] == 9
    assert butterfly_count(star).collect()[0][0] == 0
    # side-independence: both centers and auto agree (duplicates ignored)
    k23_dup = bip([(a, b) for a in (0, 1) for b in (10, 11, 12)] * 2)
    for c in ("src", "dst", None):
        assert butterfly_count(k23_dup, center=c).collect()[0][0] == 3


def test_link_prediction_jaccard_goldens(spark):
    from trianglecount_spark.operators.metrics import link_prediction_jaccard

    # 4-cycle: the two diagonals are the only non-adjacent pairs, each
    # with 2 common neighbors and all degrees 2 -> jaccard exactly 1.0
    sym = _sym(spark, [(0, 1), (1, 2), (2, 3), (3, 0)])
    got = {(r.u, r.w): (r.common, r.jaccard) for r in
           link_prediction_jaccard(sym, min_common=2).collect()}
    assert got == {(0, 2): (2, 1.0), (1, 3): (2, 1.0)}

    # adjacent pairs are excluded even with many common neighbors (K4)
    k4 = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    assert link_prediction_jaccard(_sym(spark, k4), min_common=1).count() == 0

    # path 0-1-2: one candidate at min_common=1, filtered at 2
    p = _sym(spark, [(0, 1), (1, 2)])
    one = link_prediction_jaccard(p, min_common=1).collect()
    assert [(r.u, r.w, r.common, r.jaccard) for r in one] == [(0, 2, 1, 1.0)]
    assert link_prediction_jaccard(p, min_common=2).count() == 0


def test_link_prediction_hub_cap(spark):
    """max_center_degree drops exactly the wedge centers above the cap —
    the capped score equals the uncapped score on the graph with those
    hubs' wedges removed, and tau >= max degree is a no-op."""
    from trianglecount_spark.operators.metrics import (
        link_prediction_jaccard,
        link_prediction_ra,
    )

    # star center 0 (deg 4) + a square among the leaves: center 0 is the
    # hub; capping at 3 removes its C(4,2) wedges but keeps the square's
    edges = [(0, 1), (0, 2), (0, 3), (0, 4), (1, 2), (2, 3), (3, 4), (4, 1)]
    sym = _sym(spark, edges)
    full = {(r.u, r.w): r.common for r in
            link_prediction_jaccard(sym, min_common=1).collect()}
    capped = {(r.u, r.w): r.common for r in
              link_prediction_jaccard(sym, min_common=1,
                                      max_center_degree=3).collect()}
    # uncapped: diagonals (1,3), (2,4) have 3 common nbrs (0 + 2 square)
    assert full == {(1, 3): 3, (2, 4): 3}
    # capped at 3: center 0 (deg 4) is dropped; every leaf has deg 3 and
    # still contributes its wedges -> counts drop by exactly center 0's
    assert capped == {(1, 3): 2, (2, 4): 2}
    # tau >= max degree is the exact form
    noop = {(r.u, r.w): r.common for r in
            link_prediction_jaccard(sym, min_common=1,
                                    max_center_degree=4).collect()}
    assert noop == full
    # RA: same center set rule; capped drops center 0's 1/4 contribution
    ra_full = {(r.u, r.w): r.ra_millionths for r in
               link_prediction_ra(sym, min_common=1).collect()}
    ra_capped = {(r.u, r.w): r.ra_millionths for r in
                 link_prediction_ra(sym, min_common=1,
                                    max_center_degree=3).collect()}
    assert ra_full == {(1, 3): 250000 + 2 * 333333, (2, 4): 250000 + 2 * 333333}
    assert ra_capped == {(1, 3): 2 * 333333, (2, 4): 2 * 333333}


def test_degree_assortativity_goldens(spark):
    import numpy as np

    from trianglecount_spark.operators.metrics import degree_assortativity

    # star K_{1,3} is perfectly disassortative
    row = degree_assortativity(_sym(spark, [(0, 1), (0, 2), (0, 3)])).collect()[0]
    assert row.n_dir_edges == 6 and row.assortativity == -1.0

    # irregular graph: matches numpy Pearson over directed degree pairs
    edges = [(0, 1), (1, 2), (2, 3), (3, 0), (0, 2), (4, 0)]
    sym = {(a, b) for a, b in edges} | {(b, a) for a, b in edges}
    import collections

    deg = collections.Counter(a for a, _ in sym)
    xs = np.array([deg[a] for a, b in sorted(sym)], dtype=float)
    ys = np.array([deg[b] for a, b in sorted(sym)], dtype=float)
    want = np.corrcoef(xs, ys)[0, 1]
    got = degree_assortativity(_sym(spark, edges)).collect()[0].assortativity
    assert abs(got - want) < 1e-12


def test_clique4_goldens(spark):
    from trianglecount_spark.operators.canonicalize import canonicalize_edges, orient
    from trianglecount_spark.operators.metrics import clique4_count

    def k4(edges):
        df = spark.createDataFrame(edges, "src long, dst long")
        return clique4_count(orient(canonicalize_edges(df))).collect()[0].n_4cliques

    k5 = [(a, b) for a in range(5) for b in range(5) if a < b]
    assert k4(k5) == 5  # C(5,4)
    assert k4([(a, b) for a in range(4) for b in range(4) if a < b]) == 1
    # K4 minus one edge has no 4-clique but 2 triangles
    assert k4([(0, 1), (0, 2), (0, 3), (1, 2), (1, 3)]) == 0


def test_mis_properties(spark):
    # independence + maximality + determinism on a 40-vertex random-ish
    # graph (deterministic edge formula), plus isolated-vertex handling
    from trianglecount_spark.operators.mis import maximal_independent_set

    pairs = [(i, (i * 7 + 3) % 40) for i in range(40) if i != (i * 7 + 3) % 40]
    pairs += [(i, (i + 1) % 40) for i in range(40)]
    sym = _sym(spark, pairs)
    edges = {(r.src, r.dst) for r in sym.collect()}
    mis = {r.v for r in maximal_independent_set(sym, max_iter=12).collect()}
    # independence: no edge inside the MIS
    assert not any((a, b) in edges for a in mis for b in mis if a != b)
    # maximality: every non-member has a member neighbor
    verts = {a for a, _ in edges}
    for v in verts - mis:
        assert any((v, m) in edges for m in mis), v
    # determinism: second run identical
    mis2 = {r.v for r in maximal_independent_set(sym, max_iter=12).collect()}
    assert mis == mis2


def test_mis_star_and_isolated(spark):
    from trianglecount_spark.operators.mis import maximal_independent_set

    # star: either the hub alone or all leaves — with md5 priorities the
    # result is deterministic, so just assert MIS properties exactly
    star = _sym(spark, [(0, i) for i in range(1, 6)])
    mis = {r.v for r in maximal_independent_set(star, max_iter=4).collect()}
    assert mis == {1, 2, 3, 4, 5} or mis == {0}
    # two disconnected edges: exactly one endpoint from each
    two = _sym(spark, [(1, 2), (3, 4)])
    m2 = {r.v for r in maximal_independent_set(two, max_iter=4).collect()}
    assert len(m2 & {1, 2}) == 1 and len(m2 & {3, 4}) == 1


def test_coloring_proper_and_progressive(spark):
    from trianglecount_spark.operators.mis import luby_coloring

    pairs = [(i, (i * 7 + 3) % 40) for i in range(40) if i != (i * 7 + 3) % 40]
    pairs += [(i, (i + 1) % 40) for i in range(40)]
    sym = _sym(spark, pairs)
    edges = {(r.src, r.dst) for r in sym.collect()}
    colors = {r.v: r.color for r in luby_coloring(sym, n_colors=8, mis_rounds=8).collect()}
    # proper: no edge is monochromatic
    assert not any(
        colors.get(a) == colors.get(b)
        for a, b in edges
        if a in colors and b in colors
    )
    # each class is maximal in its residual graph: every vertex of class
    # >= 2 has a class-1 neighbor (else class 1 wasn't maximal)
    c1 = {v for v, c in colors.items() if c == 1}
    for v, c in colors.items():
        if c >= 2:
            assert any((v, m) in edges for m in c1), v


def test_coloring_path_graph_full_coverage(spark):
    from trianglecount_spark.operators.mis import luby_coloring

    # a 20-path is 2-colorable; 4 Luby classes cover it completely
    sym = _sym(spark, [(i, i + 1) for i in range(19)])
    colors = {r.v: r.color for r in luby_coloring(sym, n_colors=4, mis_rounds=8).collect()}
    assert set(colors) == set(range(20))
    assert all(colors[i] != colors[i + 1] for i in range(19))


def test_matching_properties(spark):
    from trianglecount_spark.operators.matching import maximal_matching

    pairs = [(i, (i * 7 + 3) % 40) for i in range(40) if i != (i * 7 + 3) % 40]
    pairs += [(i, (i + 1) % 40) for i in range(40)]
    sym = _sym(spark, pairs)
    edges = {(r.src, r.dst) for r in sym.collect()}
    m = [(r.src, r.dst) for r in maximal_matching(sym, max_iter=10).collect()]
    # valid matching: vertex-disjoint
    used = [v for e in m for v in e]
    assert len(used) == len(set(used))
    # matched pairs are real edges
    assert all((a, b) in edges for a, b in m)
    # maximal: every edge touches a matched vertex
    assert all(a in set(used) or b in set(used) for a, b in edges)
    # determinism
    m2 = [(r.src, r.dst) for r in maximal_matching(sym, max_iter=10).collect()]
    assert sorted(m) == sorted(m2)


def test_matching_goldens(spark):
    from trianglecount_spark.operators.matching import maximal_matching

    # a single edge matches itself; a triangle matches exactly one edge
    one = _sym(spark, [(1, 2)])
    assert [(r.src, r.dst) for r in maximal_matching(one, max_iter=4).collect()] == [(1, 2)]
    tri = _sym(spark, [(0, 1), (1, 2), (0, 2)])
    mt = [(r.src, r.dst) for r in maximal_matching(tri, max_iter=4).collect()]
    assert len(mt) == 1 and mt[0] in {(0, 1), (1, 2), (0, 2)}


def test_coarsen_by_matching(spark):
    from pyspark.sql import functions as F
    from trianglecount_spark.operators.matching import coarsen_by_matching, maximal_matching

    pairs = [(i, (i * 7 + 3) % 40) for i in range(40) if i != (i * 7 + 3) % 40]
    pairs += [(i, (i + 1) % 40) for i in range(40)]
    sym = _sym(spark, pairs)
    n_orig = sym.where("src < dst").count()
    m = maximal_matching(sym, max_iter=10).count()
    coarse = coarsen_by_matching(sym, max_iter=10)
    rows = coarse.collect()
    # weight conservation: every original edge lands in exactly one
    # coarse edge unless it collapsed inside a matched pair
    assert sum(r.weight for r in rows) == n_orig - m
    # supervertex count shrinks by the matching size
    verts = {v for r in rows for v in (r.src, r.dst)}
    orig_verts = {v for p in pairs for v in p}
    assert len(verts) <= len(orig_verts) - m
    # no self loops, canonical orientation
    assert all(r.src < r.dst for r in rows)


def test_shortest_path_counts_golden(spark):
    from trianglecount_spark.operators.metrics import shortest_path_counts

    # diamond: 0-1, 0-2, 1-3, 2-3 — two shortest paths 0→3; plus tail 3-4
    sym = _sym(spark, [(0, 1), (0, 2), (1, 3), (2, 3), (3, 4)])
    out = {r.v: (r.dist, r.sigma) for r in shortest_path_counts(sym, 0, rounds=4).collect()}
    assert out == {0: (0, 1), 1: (1, 1), 2: (1, 1), 3: (2, 2), 4: (3, 2)}


def test_heavy_edge_matching_prefers_weight(spark):
    from trianglecount_spark.operators.matching import maximal_matching

    # path a-b-c with weight(b,c) >> weight(a,b): heavy edge must win
    e = spark.createDataFrame(
        [(1, 2, 1), (2, 3, 100)], "src long, dst long, weight long"
    )
    m = [(r.src, r.dst) for r in
         maximal_matching(e, max_iter=4, weight_col="weight").collect()]
    assert m == [(2, 3)]
    # star with one heavy spoke: that spoke is the match
    star = spark.createDataFrame(
        [(0, 1, 5), (0, 2, 50), (0, 3, 7)], "src long, dst long, weight long"
    )
    ms = [(r.src, r.dst) for r in
          maximal_matching(star, max_iter=4, weight_col="weight").collect()]
    assert ms == [(0, 2)]


def test_triangle_listing_complete(spark):
    # enumeration must agree with the counter on the same filtered DAG
    from trianglecount_spark.operators import canonicalize_edges, orient, triangle_count_join
    from pyspark.sql import functions as F

    pairs = [(i, (i * 7 + 3) % 40) for i in range(40) if i != (i * 7 + 3) % 40]
    pairs += [(i, (i + 1) % 40) for i in range(40)]
    o = orient(canonicalize_edges(spark.createDataFrame(pairs, "src long, dst long")))
    want = triangle_count_join(o)
    e1 = o.select(F.col("src").alias("a"), F.col("dst").alias("b"))
    e2 = o.select(F.col("src").alias("b"), F.col("dst").alias("c"))
    e3 = o.select(F.col("src").alias("a"), F.col("dst").alias("c"))
    listed = e1.join(e2, "b").join(e3, ["a", "c"], "left_semi").select("a", "b", "c")
    rows = listed.collect()
    assert len(rows) == want
    # each listed row is a genuine triangle and no duplicates
    und = {(r.src, r.dst) for r in canonicalize_edges(
        spark.createDataFrame(pairs, "src long, dst long")).collect()}
    assert len({tuple(sorted((r.a, r.b, r.c))) for r in rows}) == want
    for r in rows:
        assert (r.a, r.b) in und and (r.b, r.c) in und and (r.a, r.c) in und


def test_heavy_matching_rejects_out_of_range_weight(spark):
    import pytest as _pytest
    from py4j.protocol import Py4JJavaError
    from pyspark.errors.exceptions.captured import SparkRuntimeException
    from trianglecount_spark.operators.matching import maximal_matching

    bad = spark.createDataFrame(
        [(1, 2, -5)], "src long, dst long, weight long"
    )
    with _pytest.raises((Py4JJavaError, SparkRuntimeException, Exception)):
        maximal_matching(bad, max_iter=1, weight_col="weight").collect()


def test_stress_centrality_diamond(spark):
    # diamond 0-1, 0-2, 1-3, 2-3 from source 0:
    # sigma: 0→1, 1→1, 2→1, 3→2; tau: 3→0, 1→1, 2→1, 0→4
    from trianglecount_spark.operators.metrics import stress_centrality

    sym = _sym(spark, [(0, 1), (0, 2), (1, 3), (2, 3)])
    got = {
        r.v: (r.dist, r.sigma, r.tau, r.n_paths_through)
        for r in stress_centrality(sym, source=0, rounds=4).collect()
    }
    assert got[0] == (0, 1, 4, 4)
    assert got[1] == (1, 1, 1, 1)
    assert got[2] == (1, 1, 1, 1)
    assert got[3] == (2, 2, 0, 0)


def test_stress_centrality_path(spark):
    # path 0-1-2-3: through-counts at 1 cover targets {2,3}, at 2 cover {3}
    from trianglecount_spark.operators.metrics import stress_centrality

    sym = _sym(spark, [(0, 1), (1, 2), (2, 3)])
    got = {
        r.v: r.n_paths_through
        for r in stress_centrality(sym, source=0, rounds=4).collect()
    }
    assert got[1] == 2 and got[2] == 1 and got[3] == 0


def test_stress_respects_round_budget(spark):
    # path 0-1-2-3 with rounds=2: vertex 3 absent, tau truncated at the
    # horizon (2 is the deepest level => tau 0 there, 1 sees only {2})
    from trianglecount_spark.operators.metrics import stress_centrality

    sym = _sym(spark, [(0, 1), (1, 2), (2, 3)])
    got = {
        r.v: (r.dist, r.tau)
        for r in stress_centrality(sym, source=0, rounds=2).collect()
    }
    assert set(got) == {0, 1, 2}
    assert got[2] == (2, 0) and got[1] == (1, 1)


def test_link_prediction_ra_square(spark):
    # 4-cycle: the two diagonals are the only non-adjacent pairs; every
    # center has deg 2 => RA = 2 * (1000000 div 2) = exactly 1000000
    from trianglecount_spark.operators.metrics import link_prediction_ra

    sym = _sym(spark, [(0, 1), (1, 2), (2, 3), (3, 0)])
    rows = link_prediction_ra(sym, min_common=2).collect()
    got = {(r.u, r.w): (r.common, r.ra_millionths) for r in rows}
    assert got == {(0, 2): (2, 1000000), (1, 3): (2, 1000000)}


def test_link_prediction_ra_damps_hubs(spark):
    # two centers between (0,9): hub 1 (deg 5) and leaf-ish 2 (deg 2):
    # RA = 1000000 div 5 + 1000000 div 2 = 700000
    from trianglecount_spark.operators.metrics import link_prediction_ra

    sym = _sym(
        spark,
        [(0, 1), (1, 9), (0, 2), (2, 9), (1, 4), (1, 5), (1, 6)],
    )
    rows = link_prediction_ra(sym, min_common=2).collect()
    got = {(r.u, r.w): r.ra_millionths for r in rows}
    assert got[(0, 9)] == 200000 + 500000


def test_katz_truncated_path_graph(spark):
    # path 0-1-2: walks_1 = (1,2,1), walks_2 = (2,2,2), walks_3 = (2,4,2)
    # katz_m = w1*250000 + w2*62500 + w3*15625
    from trianglecount_spark.operators.metrics import katz_centrality

    sym = _sym(spark, [(0, 1), (1, 2)])
    got = {r.v: r.katz_millionths for r in katz_centrality(sym).collect()}
    assert got == {0: 406250, 1: 687500, 2: 406250}


def test_katz_single_edge_rounds(spark):
    # K2: walks_i(v) = 1 for all i; beta_inv=2, rounds=2 ->
    # 500000 + 250000
    from trianglecount_spark.operators.metrics import katz_centrality

    sym = _sym(spark, [(0, 1)])
    got = {
        r.v: r.katz_millionths
        for r in katz_centrality(sym, beta_inv=2, rounds=2).collect()
    }
    assert got == {0: 750000, 1: 750000}


def test_densest_subgraph_finds_clique(spark):
    from trianglecount_spark.operators.metrics import densest_subgraph

    # K5 with a path tail: the peel strips the tail, leaving the K5
    # (density 10/5 = 2.0 => 2,000,000 millionths); the next round
    # removes the now-regular K5 entirely, so round 1 is the argmax
    k5 = [(a, b) for a in range(5) for b in range(a + 1, 5)]
    tail = [(4, 5), (5, 6), (6, 7), (7, 8), (8, 9)]
    sym = _sym(spark, k5 + tail)
    r = densest_subgraph(sym, rounds=8).first()
    assert (r.round, r.n_vertices, r.n_edges, r.density_millionths) == (
        1, 5, 10, 2000000,
    )


def test_core_numbers_k4_tail(spark):
    # K4 on {0,1,2,3} (coreness 3) with a path tail 3-4-5 (coreness 1)
    from trianglecount_spark.operators.metrics import core_numbers

    und = [(a, b) for a in range(4) for b in range(4) if a != b]
    und += [(3, 4), (4, 3), (4, 5), (5, 4)]
    sym = spark.createDataFrame(und, "src long, dst long")
    got = {r.v: r.coreness for r in core_numbers(sym, rounds=6).collect()}
    assert got == {0: 3, 1: 3, 2: 3, 3: 3, 4: 1, 5: 1}


def test_core_numbers_matches_peeling(spark):
    # random graph: h-index fixpoint must equal classic min-degree peeling
    import numpy as np
    from trianglecount_spark.operators.metrics import core_numbers

    rng = np.random.default_rng(5)
    n = 30
    und = sorted({(int(a), int(b)) for a, b in rng.integers(0, n, size=(90, 2)) if a != b})
    sym = list({(a, b) for a, b in und} | {(b, a) for a, b in und})
    # reference coreness by min-degree peeling (Batagelj-Zaversnik):
    # remove the min-degree vertex; coreness = running max of removal degree
    adj = {v: set() for e in sym for v in e}
    for a, b in sym:
        adj[a].add(b)
    deg = {v: len(ns) for v, ns in adj.items()}
    core = {}
    alive = set(adj)
    k = 0
    while alive:
        v = min(alive, key=lambda x: (deg[x], x))
        k = max(k, deg[v])
        core[v] = k
        alive.remove(v)
        for u in adj[v]:
            if u in alive:
                deg[u] -= 1
    df = spark.createDataFrame(sym, "src long, dst long")
    got = {r.v: r.coreness for r in core_numbers(df, rounds=12).collect()}
    assert got == core


def test_pair_counts_auto_regime_selection(spark, monkeypatch):
    """r3 verdict #1: the engine must pick the broadcast-CSR kernel (a
    MapInArrow node) exactly when BOTH regime bounds hold — hub cap set
    AND capped adjacency under the byte ceiling — and the all-shuffle
    plan otherwise."""
    import trianglecount_spark.operators.metrics as M
    from trianglecount_spark.operators import regime

    sym = _sym(
        spark,
        [(a, b) for a in range(12) for b in range(a + 1, 12) if (a + b) % 3],
    )

    def plan(df):
        return df._jdf.queryExecution().optimizedPlan().toString()  # noqa: SLF001

    # capped + small: auto selects the kernel
    kern = M.link_prediction_jaccard(sym, min_common=1, max_center_degree=8)
    assert "MapInArrow" in plan(kern)
    # uncapped: bound (2) fails -> shuffle form, regardless of size
    shuf = M.link_prediction_jaccard(sym, min_common=1)
    assert "MapInArrow" not in plan(shuf)
    # capped but past the size ceiling: bound (1) fails -> shuffle form
    monkeypatch.setattr(regime, "BYTE_LIMIT", 1)
    monkeypatch.setattr(regime, "ROW_LIMIT", 1)
    big = M.link_prediction_jaccard(sym, min_common=1, max_center_degree=8)
    assert "MapInArrow" not in plan(big)
    monkeypatch.undo()
    # the kernel and the capped shuffle plan agree on values (kernel vs
    # shuffle bit-parity)
    rows = lambda df: {  # noqa: E731
        (r.u, r.w, r.common, round(r.jaccard, 12)) for r in df.collect()
    }
    assert rows(kern) == rows(big)


def test_frontier_auto_resolves_by_size(spark, monkeypatch):
    """The frontier ops degrade to the shuffle regime when the
    edge-table size estimate exceeds the ceiling, with identical
    results either way — and triangles_join's closure follows the same
    rule."""
    import trianglecount_spark.operators.metrics as M
    from tests.conftest import broadcast_regime
    from trianglecount_spark.operators import regime
    from trianglecount_spark.operators.canonicalize import orient
    from trianglecount_spark.operators.pagerank import pagerank
    from trianglecount_spark.operators.triangles import triangles_join

    sym = _sym(spark, [(0, 1), (1, 2), (2, 3), (0, 3), (1, 4), (0, 2)])
    o = orient(sym)

    def pagerank_regime(flag):
        _, log = pagerank(sym, max_iter=1, check_every=1, broadcast_state=flag)
        return log.rounds[-1]["regime"]

    def closure_hinted(df):
        plan = df._jdf.queryExecution().optimizedPlan().toString()  # noqa: SLF001
        return "strategy=broadcast" in plan

    def tris(df):
        return {(r.u, r.v, r.w) for r in df.collect()}

    assert pagerank_regime("auto") == "resident"
    assert broadcast_regime(monkeypatch, lambda: pagerank_regime("auto"), sym) == "broadcast"
    assert pagerank_regime(True) == "broadcast"
    assert pagerank_regime(False) == "shuffle"
    t_bc = triangles_join(o)
    assert closure_hinted(t_bc)
    monkeypatch.setattr(regime, "BYTE_LIMIT", 1)
    monkeypatch.setattr(regime, "ROW_LIMIT", 1)
    assert pagerank_regime("auto") == "shuffle"
    # end-to-end under the shrunken ceiling: the shuffle regime runs and
    # must agree with the broadcast run under the default ceilings
    d_auto, _ = M.bfs_distances(sym, 0, max_rounds=6)
    t_auto = triangles_join(o)
    assert not closure_hinted(t_auto)
    monkeypatch.undo()
    d_bc, log_bc = M.bfs_distances(sym, 0, max_rounds=6)
    assert log_bc.rounds[-1]["regime"] == "broadcast"
    assert {(r.v, r.dist) for r in d_auto.collect()} == {
        (r.v, r.dist) for r in d_bc.collect()
    }
    assert tris(t_auto) == tris(t_bc) and len(tris(t_bc)) == 2


def test_broadcast_tristate_typo_raises(spark):
    """r4 advisor: anything but True/False/'auto' must raise — a typo
    like 'Auto' or 'none' is a truthy string and would otherwise
    silently force the memory-unsafe broadcast regime."""
    import pytest

    from trianglecount_spark.operators.pagerank import pagerank

    sym = _sym(spark, [(0, 1), (1, 2), (0, 2), (2, 3)])
    with pytest.raises(ValueError, match="auto"):
        pagerank(sym, max_iter=2, broadcast_state="Auto")
    with pytest.raises(ValueError, match="auto"):
        pagerank(sym, max_iter=2, broadcast_state="yes")


def test_ceilings_set_and_restore():
    """``regime.ceilings`` sets both ceilings for its block and restores
    them on exit, also when the block raises."""
    import pytest

    from trianglecount_spark.operators import regime

    before = regime.BYTE_LIMIT, regime.ROW_LIMIT
    with regime.ceilings(-1, 7):
        assert (regime.BYTE_LIMIT, regime.ROW_LIMIT) == (-1, 7)
    assert (regime.BYTE_LIMIT, regime.ROW_LIMIT) == before
    with pytest.raises(RuntimeError), regime.ceilings(-1, -1):
        raise RuntimeError
    assert (regime.BYTE_LIMIT, regime.ROW_LIMIT) == before


def test_estimated_bytes_file_scan_deser_factor(spark, tmp_path):
    """r4 advisor: Catalyst's sizeInBytes for a parquet scan is the
    COMPRESSED on-disk footprint — the regime probe must inflate it by
    the deserialization factor before any broadcast-ceiling comparison,
    while accurate non-scan stats (Range/InMemory/Local leaves) pass
    through unadjusted."""
    from trianglecount_spark.operators.regime import (
        FILE_SCAN_DESER_FACTOR,
        estimated_bytes,
    )

    p = str(tmp_path / "edges.parquet")
    spark.range(20000).selectExpr("id as src", "id + 1 as dst").write.parquet(p)
    scan = spark.read.parquet(p)
    raw = int(
        scan._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()  # noqa: SLF001
    )
    assert raw > 0
    assert estimated_bytes(scan) == raw * FILE_SCAN_DESER_FACTOR

    rng = spark.range(1000)  # Range leaf: exact in-memory estimate
    raw_rng = int(
        rng._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()  # noqa: SLF001
    )
    assert estimated_bytes(rng) == raw_rng
