from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import GOLDEN, edges_df
from trianglecount_spark.operators import canonicalize_edges, degrees, orient, vertex_dictionary


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
    d1 = {r.url: r.vid for r in vertex_dictionary(df).collect()}
    d2 = {r.url: r.vid for r in vertex_dictionary(df).collect()}
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
