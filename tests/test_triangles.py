from __future__ import annotations

import numpy as np
import pytest

from tests.conftest import CROSS_GRAPHS, GOLDEN, both_regimes, cross_edges, edges_df
from trianglecount_spark.operators import (
    canonicalize_edges,
    orient,
    triangle_count_join,
    triangle_count_kernel,
    triangles_per_vertex_join,
)
from trianglecount_spark.operators import triangles
from trianglecount_spark.operators.triangles import (
    triangle_count_arrays,
    triangles_per_vertex_arrays,
    triangles_per_vertex_kernel,
)


def _oriented(spark, name):
    raw, _ = GOLDEN[name]
    return orient(canonicalize_edges(edges_df(spark, raw)))


@pytest.mark.parametrize("name", sorted(GOLDEN))
def test_join_form_totals(spark, name):
    _, want = GOLDEN[name]
    assert triangle_count_join(_oriented(spark, name)) == want


@pytest.mark.parametrize("name", ["tri", "k4", "bowtie", "hub", "two_tris", "diamond"])
def test_kernel_form_matches_join_form(spark, name):
    o = _oriented(spark, name)
    _, want = GOLDEN[name]
    assert triangle_count_kernel(o) == want


@pytest.mark.parametrize("k", [1, 2, 4, 8])
def test_kernel_partition_invariance(spark, k):
    # mirrors the reference's partition-count sweep (k ∈ {2,4,8},
    # Halo_creation_preprocess.py:288-396): totals and per-vertex counts
    # must not depend on the partitioning.
    o = _oriented(spark, "k5")
    assert triangle_count_kernel(o, n_parts=k) == 10
    pv = {r.v: r.tri for r in triangles_per_vertex_kernel(o, n_parts=k).collect()}
    ref = {r.v: r.tri for r in triangles_per_vertex_join(o).collect()}
    assert pv == ref


def test_kernel_salting_path(spark):
    # force the hub (deg+ = large) through the salted path
    o = _oriented(spark, "hub")
    total = triangle_count_kernel(o, n_parts=4, salt_threshold=5, n_salts=4)
    assert total == 99
    pv_salted = {
        r.v: r.tri
        for r in triangles_per_vertex_kernel(o, n_parts=4, salt_threshold=5, n_salts=4).collect()
    }
    pv_plain = {r.v: r.tri for r in triangles_per_vertex_join(o).collect()}
    assert pv_salted == pv_plain


@pytest.mark.parametrize("name", sorted(GOLDEN))
def test_arrays_form_totals(spark, name, monkeypatch):
    _, want = GOLDEN[name]
    o = _oriented(spark, name)
    # resident (these graphs fit the ceiling), then the distributed plan
    assert both_regimes(monkeypatch, lambda: triangle_count_arrays(o)) == (want, want)


def test_arrays_per_vertex_matches_join(spark, monkeypatch):
    for name in ("k4", "bowtie", "hub", "diamond"):
        o = _oriented(spark, name)
        a, dis = (
            {r.v: r.tri for r in rows}
            for rows in both_regimes(
                monkeypatch, lambda: triangles_per_vertex_arrays(o).collect()  # noqa: B023
            )
        )
        b = {r.v: r.tri for r in triangles_per_vertex_join(o).collect()}
        assert a == b, name
        assert dis == b, name


# the iterative operators' adversarial graphs, plus the empty and a
# triangle-free graph
ARRAYS_GRAPHS = {
    **CROSS_GRAPHS,
    "empty": ([], "long"),
    "triangle_free": (GOLDEN["bipartite33"][0] + GOLDEN["star5"][0], "long"),
}


def _analyzed(df) -> str:
    return df._jdf.queryExecution().analyzed().toString()


@pytest.mark.parametrize("name", sorted(ARRAYS_GRAPHS))
def test_arrays_regimes_agree(spark, name, monkeypatch):
    """Resident = distributed = join: the total, the per-vertex rows
    and the per-vertex schema."""
    raw, typ = ARRAYS_GRAPHS[name]
    e = spark.createDataFrame(raw, f"src {typ}, dst {typ}")
    o = orient(canonicalize_edges(e)).cache()
    (t_res, pv_res), (t_dis, pv_dis) = both_regimes(
        monkeypatch, lambda: (triangle_count_arrays(o), triangles_per_vertex_arrays(o))
    )
    assert "LocalRelation" in _analyzed(pv_res)
    assert "array_intersect" in _analyzed(pv_dis)
    join = triangles_per_vertex_join(o)
    assert pv_res.schema == pv_dis.schema
    assert pv_res.schema["v"].dataType == join.schema["v"].dataType == e.schema["src"].dataType
    res, dis, ref = (sorted(tuple(r) for r in df.collect()) for df in (pv_res, pv_dis, join))
    assert res == dis == ref
    assert all(tri > 0 for _, tri in res)
    assert t_res == t_dis == sum(tri for _, tri in ref)
    o.unpersist()


def test_arrays_resident_chunks_across_threads(spark, monkeypatch):
    """Chunks far smaller than the graph's wedge count, spread over the
    thread pool, leave the resident result unchanged."""
    raw = [ed for name in ("hub", "k5", "bowtie", "diamond") for ed in GOLDEN[name][0]]
    o = orient(canonicalize_edges(edges_df(spark, raw))).cache()
    want = {r.v: r.tri for r in triangles_per_vertex_join(o).collect()}
    assert spark.sparkContext.defaultParallelism > 1
    for chunk in (1, 7, 64):
        monkeypatch.setattr(triangles, "_WEDGE_CHUNK", chunk)
        assert triangle_count_arrays(o) == sum(want.values())
        assert {r.v: r.tri for r in triangles_per_vertex_arrays(o).collect()} == want
    o.unpersist()


def test_count_closures_threads_invariant(monkeypatch):
    """The shared expand → probe → bincount loop gives the same counts
    on one thread and on several, at every chunk size."""
    rng = np.random.default_rng(5)
    n = 300
    keys = np.unique(rng.integers(0, n, 4000) * n + rng.integers(0, n, 4000))
    src, dst = (keys // n).astype(np.int32), (keys % n).astype(np.int32)
    target = np.sort((src.astype(np.int64) << 32) | dst)
    deg = np.bincount(src, minlength=n)
    starts = np.cumsum(deg) - deg
    args = (src, starts[dst], deg[dst], dst, target, n)
    ref = triangles._count_closures(*args)
    # brute force: closed wedges (u, v, w) anchored at u
    edges = set(zip(src.tolist(), dst.tolist()))
    adj = {u: [w for (a, w) in edges if a == u] for u in range(n)}
    brute = np.zeros(n, np.int64)
    for u, v in edges:
        brute[u] += sum((u, w) in edges for w in adj[v])
    assert np.array_equal(ref, brute) and ref.sum() > 0
    for chunk in (1, 13, 1000):
        monkeypatch.setattr(triangles, "_WEDGE_CHUNK", chunk)
        for threads in (1, 4):
            assert np.array_equal(triangles._count_closures(*args, threads=threads), ref)


def test_per_vertex_anchor_attribution_tri(spark):
    # FIXTURES §3: all deg 2 ⇒ ties; anchor = vertex 2 (max id = minimum
    # under (deg asc, id desc)); per-vertex (0,0,1)
    o = _oriented(spark, "tri")
    pv = {r.v: r.tri for r in triangles_per_vertex_join(o).collect()}
    assert pv == {2: 1}


def test_per_vertex_sums_to_total(spark):
    for name in ("k4", "bowtie", "hub", "diamond"):
        o = _oriented(spark, name)
        pv = triangles_per_vertex_join(o)
        total = sum(r.tri for r in pv.collect())
        assert total == GOLDEN[name][1], name


def test_kernel_huge_ids_relabel_path(spark):
    # ids beyond 2^31 force the kernel's dense local relabel (the r1
    # packed-key form asserted out at 31 bits — a 10^12-vertex web graph
    # exceeds it); totals must be unchanged
    base = 1 << 40
    raw, want = GOLDEN["k4"]
    shifted = [(base + a, base + b) for a, b in raw]
    o = orient(canonicalize_edges(edges_df(spark, shifted)))
    assert triangle_count_kernel(o, n_parts=2) == want
    pv = {r.v - base: r.tri for r in triangles_per_vertex_kernel(o, n_parts=2).collect()}
    ref = {r.v - base: r.tri for r in triangles_per_vertex_join(o).collect()}
    assert pv == ref


def test_kernel_huge_ids_salted(spark):
    base = 3 << 40
    raw, want = GOLDEN["hub"]
    shifted = [(base + a, base + b) for a, b in raw]
    o = orient(canonicalize_edges(edges_df(spark, shifted)))
    assert (
        triangle_count_kernel(o, n_parts=4, salt_threshold=5, n_salts=4) == want
    )


def test_weighted_triangle_total_goldens(spark):
    from trianglecount_spark.operators.triangles import weighted_triangle_total

    # triangle with edge multiplicities 3, 2, 1 -> min = 1
    raw = spark.createDataFrame(
        [(0, 1)] * 3 + [(1, 2)] * 2 + [(0, 2)], "src long, dst long"
    )
    r = weighted_triangle_total(raw).first()
    assert (r.n_triangles, r.weight_total) == (1, 1)

    # two triangles sharing edge (0,1)x2: 0-1-2 (min 1), 0-1-3 (min 2)
    raw2 = spark.createDataFrame(
        [(0, 1)] * 2 + [(1, 2), (0, 2)] + [(1, 3)] * 2 + [(0, 3)] * 3,
        "src long, dst long",
    )
    r2 = weighted_triangle_total(raw2).first()
    assert (r2.n_triangles, r2.weight_total) == (2, 3)

    # direction-agnostic multiplicity: (0,1) and (1,0) are the same edge
    raw3 = spark.createDataFrame(
        [(0, 1), (1, 0), (1, 2), (0, 2)], "src long, dst long"
    )
    r3 = weighted_triangle_total(raw3).first()
    assert (r3.n_triangles, r3.weight_total) == (1, 1)


@pytest.mark.parametrize("name", sorted(CROSS_GRAPHS))
def test_kernel_parity_cross_graphs(spark, name):
    """The kernel, plain and salted, equals the join form on every
    adversarial graph; ids it cannot pack (strings) raise a clear
    error instead of a count."""
    o = orient(canonicalize_edges(cross_edges(spark, name))).cache()
    want = sorted(tuple(r) for r in triangles_per_vertex_join(o).collect())
    for kw in ({}, {"salt_threshold": 1, "n_salts": 4}):
        if CROSS_GRAPHS[name][1] == "string":
            with pytest.raises(TypeError, match="integral vertex ids"):
                triangles_per_vertex_kernel(o, n_parts=4, **kw)
            continue
        got = sorted(tuple(r) for r in triangles_per_vertex_kernel(o, n_parts=4, **kw).collect())
        assert got == want, kw
    o.unpersist()
