from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import CROSS_GRAPHS, GOLDEN, both_regimes, edges_df
from trianglecount_spark.operators import (
    canonicalize_edges,
    degrees,
    orient,
    vertex_dictionary_scalable,
)


def test_canonicalize_selfloop_dup(spark):
    e = edges_df(spark, GOLDEN["selfloop_dup"][0])
    sym = canonicalize_edges(e)
    rows = {(r.src, r.dst) for r in sym.collect()}
    # simple undirected triangle, both directions, no self-loop, no dup
    assert rows == {(0, 1), (1, 0), (1, 2), (2, 1), (0, 2), (2, 0)}


def test_degrees_tri_pendant(spark):
    sym = canonicalize_edges(edges_df(spark, GOLDEN["tri_pendant"][0]))
    d = {r.v: r.deg for r in degrees(sym).collect()}
    assert d == {0: 2, 1: 2, 2: 3, 3: 1}


def test_orient_one_direction_per_edge(spark):
    for name in ("tri", "k4", "bowtie", "tri_pendant", "hub"):
        raw, _ = GOLDEN[name]
        sym = canonicalize_edges(edges_df(spark, raw))
        o = orient(sym)
        n_und = sym.count() // 2
        assert o.count() == n_und, name
        # no edge present in both directions
        rev = o.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        assert o.join(rev, ["src", "dst"], "left_semi").count() == 0, name


def test_orient_tie_break_points_at_smaller_id(spark):
    # triangle: all degree 2 → pure tie-break, dst < src everywhere
    sym = canonicalize_edges(edges_df(spark, GOLDEN["tri"][0]))
    o = {(r.src, r.dst) for r in orient(sym).collect()}
    assert o == {(1, 0), (2, 0), (2, 1)}


def test_orient_degree_rule(spark):
    # tri_pendant: deg(0)=2, deg(1)=2, deg(2)=3, deg(3)=1
    sym = canonicalize_edges(edges_df(spark, GOLDEN["tri_pendant"][0]))
    o = {(r.src, r.dst) for r in orient(sym).collect()}
    # 0-1 tie → 1→0; 0-2 deg 2<3 → 0→2; 1-2 → 1→2; 2-3 deg 3>1 → 3→2
    assert o == {(1, 0), (0, 2), (1, 2), (3, 2)}


def test_vertex_dictionary_deterministic(spark):
    df = spark.createDataFrame(
        [("https://b.example/",), ("https://a.example/",), ("https://b.example/",)],
        "url string",
    )
    d1 = {r.url: r.vid for r in vertex_dictionary_scalable(df).collect()}
    d2 = {r.url: r.vid for r in vertex_dictionary_scalable(df).collect()}
    assert d1 == d2 == {"https://a.example/": 0, "https://b.example/": 1}


def test_canonicalize_packed_matches_unpacked(spark):
    """Both canonical forms must equal a pure-Python symmetric set on
    long and int columns over the packed form's whole id range
    [0, 2^31), including self-loops, duplicates, anti-parallel pairs
    and 2^31-1, and keep the input's column types; ids outside the
    range (2^31, -1) must fail the packed form's job, not pack to
    wrong keys."""
    import random

    import pytest

    from trianglecount_spark.operators.canonicalize import (
        canonicalize_edges,
        canonicalize_edges_packed,
    )

    rng = random.Random(7)
    pairs = [(rng.randrange(40), rng.randrange(40)) for _ in range(300)]
    pairs += [(5, 5), (0, 1), (1, 0), (0, 1)]  # self-loop + antiparallel dup
    big = (1 << 31) - 1  # top of the packed range: must round-trip
    pairs += [(big, 0), (big - 1, big), (0, big), (big, big)]
    want = {(s, d) for s, d in pairs if s != d} | {
        (d, s) for s, d in pairs if s != d
    }
    # int-typed input: Java shift semantics wrap the count mod 32 on an
    # int column — the packed form must cast to long first or every id
    # packs to garbage silently
    for typ in ("long", "int"):
        df = spark.createDataFrame(pairs, f"src {typ}, dst {typ}")
        for canon in (canonicalize_edges, canonicalize_edges_packed):
            out = canon(df)
            assert out.schema == df.schema
            assert {(r.src, r.dst) for r in out.collect()} == want, canon
    for bad in ((1 << 31, 0), (3, -1)):
        df = spark.createDataFrame(pairs[:5] + [bad], "src long, dst long")
        with pytest.raises(Exception, match="outside"):
            canonicalize_edges_packed(df).collect()


# ---------------------------------------------------------------------------
# the attached resident graph: a driver-side evaluation of the plan
# ---------------------------------------------------------------------------

# CROSS_GRAPHS plus self-loops, duplicate and anti-parallel edges, and
# null endpoints (dropped by the plans' src != dst and joins)
RESIDENT_GRAPHS = {
    **CROSS_GRAPHS,
    "messy": (
        [(0, 1), (1, 0), (0, 1), (2, 2), (1, 2), (None, 3), (3, None),
         (None, None), (4, 4), (3, 1), (3, 1)],
        "long",
    ),
}


def _graph_frame(spark, frame):
    """The attached graph's rows as a local frame of ``frame``'s schema,
    or None when ``frame`` has no graph (over the ceiling)."""
    from trianglecount_spark.operators.iterative import local_frame
    from trianglecount_spark.operators.regime import attached_graph

    g = attached_graph(frame)
    if g is None:
        return None
    return local_frame(spark, frame.schema, [g.vertices[g.src], g.vertices[g.dst]])


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _sized(df):
    """``df`` cached and counted: a materialized cache carries its true
    size, the estimate the graph builders go by (a frame made from a
    Python list has none, and its graph is declined)."""
    df = df.cache()
    df.count()
    return df


def _packable(name):
    raw, typ = RESIDENT_GRAPHS[name]
    ids = [v for edge in raw for v in edge if v is not None]
    return typ != "string" and all(0 <= v < 1 << 31 for v in ids)


# the packed form on every graph whose ids it accepts
FORMS = [(name, "pair") for name in sorted(RESIDENT_GRAPHS)] + [
    (name, "packed") for name in sorted(RESIDENT_GRAPHS) if _packable(name)
]


@pytest.mark.parametrize("name,form", FORMS)
def test_resident_graph_equals_plan(spark, name, form, monkeypatch):
    """canonicalize_edges, canonicalize_edges_packed and orient (on the
    canonical table and on the raw, non-symmetric edges) attach a graph
    whose rows are the plan's rows, in the plan's schema; with the
    ceilings shrunk no graph is attached and the plan is what runs.
    orient of raw edges with a null endpoint attaches none either: its
    plan decides."""
    from trianglecount_spark.operators.canonicalize import canonicalize_edges_packed

    canon = canonicalize_edges if form == "pair" else canonicalize_edges_packed
    raw, typ = RESIDENT_GRAPHS[name]
    has_nulls = any(v is None for edge in raw for v in edge)

    def run():
        e = _sized(spark.createDataFrame(raw, f"src {typ}, dst {typ}"))
        sym = canon(e)
        frames = (sym, orient(sym), orient(e))
        return [(_graph_frame(spark, f), f) for f in frames]

    resident, distributed = both_regimes(monkeypatch, run)
    for i, ((graph, plan), (none, plan_d)) in enumerate(zip(resident, distributed)):
        assert none is None
        assert _rows(plan) == _rows(plan_d)
        if i == 2 and has_nulls:
            assert graph is None
            continue
        assert graph.schema == plan.schema == plan_d.schema
        assert _rows(graph) == _rows(plan)


# ids at 2^31 and -1, the last on a self-loop (checked before the loop
# is dropped)
@pytest.mark.parametrize("bad", [(1 << 31, 0), (3, -1), (-1, -1)])
def test_packed_out_of_range_raises_in_both_regimes(spark, bad, monkeypatch):
    from trianglecount_spark.operators import regime
    from trianglecount_spark.operators.canonicalize import canonicalize_edges_packed

    def run():
        df = _sized(spark.createDataFrame([(0, 1), (1, 2), bad], "src long, dst long"))
        with pytest.raises(Exception, match="outside"):
            # resident: the graph raises; distributed: the plan's job
            if regime.resident_graph(canonicalize_edges_packed(df)) is not None:
                raise AssertionError("resident_graph passed an out-of-range id")
            canonicalize_edges_packed(df).collect()
        return True

    assert both_regimes(monkeypatch, run) == (True, True)


def test_no_job_at_call_time(spark):
    """Building the canonical and oriented plans launches no Spark job,
    even on the copurchase self-join, whose size estimate would make an
    eager probe fall back to a count()."""
    from tests.test_plans import SF
    from trianglecount_spark.operators.canonicalize import canonicalize_edges_packed
    from trianglecount_spark.plans.queries import copurchase_raw

    # reading the parquet schema is a job of its own
    raw = copurchase_raw(spark, SF)
    sc = spark.sparkContext
    sc.setJobGroup("no-job-at-call", "canonicalize and orient")
    try:
        sym = canonicalize_edges(raw)
        orient(sym)
        orient(canonicalize_edges_packed(raw))
        assert list(sc.statusTracker().getJobIdsForGroup("no-job-at-call")) == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def test_one_collect_per_job(spark, tmp_path):
    """raw → canonicalize → orient → arrays triangle count → resident
    PageRank, components and LPA: one Spark job, the collect of the raw
    edges, before the results are collected."""
    from trianglecount_spark.operators.components import connected_components
    from trianglecount_spark.operators.lpa import label_propagation
    from trianglecount_spark.operators.pagerank import pagerank
    from trianglecount_spark.operators.triangles import triangle_count_arrays

    # three GOLDEN graphs as one disjoint union
    raw_edges = [
        (a + 1000 * k, b + 1000 * k)
        for k, name in enumerate(("hub", "k5", "bowtie"))
        for a, b in GOLDEN[name][0]
    ]
    edges_df(spark, raw_edges).write.parquet(str(tmp_path / "raw"))
    # reading the parquet schema is a job of its own
    raw = spark.read.parquet(str(tmp_path / "raw"))
    sc = spark.sparkContext
    sc.setJobGroup("one-collect", "resident job")
    try:
        sym = canonicalize_edges(raw).persist()
        tri = triangle_count_arrays(orient(sym))
        ranks, pr_log = pagerank(sym, max_iter=4, check_every=2)
        comp, cc_log = connected_components(sym)
        labels, lpa_log = label_propagation(sym, max_iter=4)
        jobs = list(sc.statusTracker().getJobIdsForGroup("one-collect"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(jobs) == 1, jobs
    assert tri == GOLDEN["hub"][1] + GOLDEN["k5"][1] + GOLDEN["bowtie"][1]
    for log in (pr_log, cc_log, lpa_log):
        assert {r["regime"] for r in log.rounds} == {"resident"}
    assert ranks.count() == comp.count() == labels.count() == len(
        {v for ed in raw_edges for v in ed}
    )
    sym.unpersist()


def _jobs_of(spark, group, fn):
    """``fn()`` and the Spark jobs it launched."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
        return out, list(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def test_probe_over_the_ceiling_runs_one_count(spark, monkeypatch):
    """Past the ceilings (a positive row ceiling below the graph, no
    size estimate trusted) the builders decline without a job: the
    resident probe of the oriented table runs only that table's own
    count (as many jobs as counting the plan: AQE submits each shuffle
    stage as one), as without attached graphs, and builds nothing."""
    from trianglecount_spark.operators import regime
    from trianglecount_spark.operators.regime import built_graph

    raw = _sized(edges_df(spark, GOLDEN["k5"][0]))
    monkeypatch.setattr(regime, "BYTE_LIMIT", -1)
    monkeypatch.setattr(regime, "ROW_LIMIT", 3)
    sym = canonicalize_edges(raw)
    oriented = orient(sym)
    fits, jobs = _jobs_of(spark, "probe-over", lambda: regime.resident_graph(oriented))
    assert not fits
    _, count_jobs = _jobs_of(spark, "count-oriented", orient(canonicalize_edges(raw)).count)
    assert len(jobs) == len(count_jobs), (jobs, count_jobs)
    assert built_graph(sym) is None and built_graph(oriented) is None


def test_distributed_consumer_probe_builds_nothing(spark, monkeypatch):
    """fits_broadcast on a frame whose graph is not built yet — what
    the join closure and the broadcast-state operators ask — runs the
    frame's count, as without attached graphs, and collects nothing."""
    from trianglecount_spark.operators import regime
    from trianglecount_spark.operators.regime import built_graph

    raw = _sized(edges_df(spark, GOLDEN["k5"][0]))
    sym = canonicalize_edges(raw)
    monkeypatch.setattr(regime, "BYTE_LIMIT", -1)
    fits, jobs = _jobs_of(spark, "probe-distributed", lambda: regime.fits_broadcast(sym))
    assert fits
    _, count_jobs = _jobs_of(spark, "count-sym", canonicalize_edges(raw).count)
    assert len(jobs) == len(count_jobs), (jobs, count_jobs)
    assert built_graph(sym) is None


def test_builder_declines_a_symmetric_table_over_the_row_ceiling(spark, monkeypatch):
    """A raw table under the row ceiling whose symmetric table is over
    it gets no graph (none is kept), and the consumer still counts the
    plan's triangles."""
    from trianglecount_spark.operators import regime
    from trianglecount_spark.operators.regime import attached_graph, built_graph
    from trianglecount_spark.operators.triangles import triangle_count_arrays

    raw_edges, want = GOLDEN["k5"]
    raw = _sized(edges_df(spark, raw_edges))
    n_raw = len({tuple(sorted(e)) for e in raw_edges if e[0] != e[1]})
    # between the raw rows and the 2 * n_raw symmetric rows
    monkeypatch.setattr(regime, "ROW_LIMIT", n_raw + 1)
    sym = canonicalize_edges(raw)
    assert attached_graph(sym) is None and built_graph(sym) is None
    assert triangle_count_arrays(orient(sym)) == want


def test_python_generator_estimate_is_not_trusted(spark):
    """An unpersisted Python row generator (``powerlaw_edges``:
    ``mapInPandas`` over a ``Range``, whose estimate passes the Range's
    on) has no size estimate under the default ceilings: its canonical
    builder declines without a job, the consumer's probe counts the
    plan, and the triangle count equals the run on the cached input,
    whose estimate is trusted and whose graph is built."""
    from trianglecount_spark.operators import regime
    from trianglecount_spark.operators.regime import attached_graph
    from trianglecount_spark.operators.triangles import triangle_count_arrays
    from trianglecount_spark.sources.synth import powerlaw_edges

    gen = powerlaw_edges(spark, 3000, 300, n_partitions=2)
    assert regime.estimated_bytes(gen) is None
    sym = canonicalize_edges(gen)
    graph, jobs = _jobs_of(spark, "generator-builder", lambda: attached_graph(sym))
    assert graph is None and jobs == []
    oriented = orient(sym)
    fits, jobs = _jobs_of(spark, "generator-probe", lambda: regime.fits_broadcast(oriented))
    assert fits and jobs
    got = triangle_count_arrays(oriented)

    cached = _sized(powerlaw_edges(spark, 3000, 300, n_partitions=2))
    assert regime.estimated_bytes(cached) is not None
    cached_sym = canonicalize_edges(cached)
    assert attached_graph(cached_sym) is not None
    assert triangle_count_arrays(orient(cached_sym)) == got > 0
    cached.unpersist()
