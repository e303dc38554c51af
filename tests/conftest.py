from __future__ import annotations

import pytest

from trianglecount_spark.operators import regime
from trianglecount_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tc-spark-tests", cores=8, shuffle_partitions=8)
    yield s


def edges_df(spark, pairs):
    """Undirected edge list (as given, possibly messy) → DataFrame[src,dst]."""
    return spark.createDataFrame([(int(a), int(b)) for a, b in pairs], "src long, dst long")


# Golden micro-graphs (FIXTURES.md §3). Values are raw input edge lists —
# canonicalization is under test, so some are deliberately messy.
GOLDEN = {
    "tri": ([(0, 1), (1, 2), (0, 2)], 1),
    "k4": ([(a, b) for a in range(4) for b in range(a + 1, 4)], 4),
    "k5": ([(a, b) for a in range(5) for b in range(a + 1, 5)], 10),
    "bowtie": ([(0, 1), (1, 2), (0, 2), (2, 3), (3, 4), (2, 4)], 2),
    "star5": ([(0, i) for i in range(1, 6)], 0),
    "path6": ([(i, i + 1) for i in range(5)], 0),
    "bipartite33": ([(a, b) for a in range(3) for b in range(3, 6)], 0),
    "tri_pendant": ([(0, 1), (1, 2), (0, 2), (2, 3)], 1),
    "two_tris": ([(0, 1), (1, 2), (0, 2), (3, 4), (4, 5), (3, 5)], 2),
    "diamond": ([(0, 1), (0, 2), (1, 2), (1, 3), (2, 3)], 2),
    "selfloop_dup": (
        [(0, 1), (1, 2), (0, 2), (1, 1), (0, 1), (0, 1), (1, 0), (2, 0)],
        1,
    ),
    "hub": (
        [(0, i) for i in range(1, 101)] + [(i, i + 1) for i in range(1, 100)],
        99,
    ),
}


# Adversarial graphs on which the resident and distributed regimes of an
# operator must agree (tests/test_iterative.py, tests/test_triangles.py).
CROSS_GRAPHS = {
    # every GOLDEN fixture at once, as one disjoint union (ids offset
    # by 1000 per fixture): one distributed run instead of twelve
    "golden_union": (
        [
            (a + 1000 * k, b + 1000 * k)
            for k, (raw, _) in enumerate(GOLDEN.values())
            for a, b in raw
        ],
        "long",
    ),
    "hub": (GOLDEN["hub"][0], "long"),
    "int_columns": (GOLDEN["bowtie"][0] + [(6, 7)], "int"),
    "big_ids": (
        [(2**31 - 1, 2**40), (2**40, 5), (5, 2**31 - 1), (2**40, 2**40 + 1), (7, 8)],
        "long",
    ),
    "one_edge": ([(3, 9)], "long"),
    # url-like keys: the resident form must order them as Spark does
    "string_ids": (
        [("b", "a"), ("a", "é"), ("é", "b"), ("zz", "z"), ("Z", "a")],
        "string",
    ),
}


def cross_edges(spark, name):
    raw, typ = CROSS_GRAPHS[name]
    return spark.createDataFrame(raw, f"src {typ}, dst {typ}")


def both_regimes(monkeypatch, run):
    """``run()`` as is — resident on these small graphs — then with the
    broadcast ceilings shrunk below any table, so every ``"auto"``
    regime, PageRank, LPA, ``connected_components`` and the arrays
    triangle forms run their shuffle plans."""
    resident = run()
    with monkeypatch.context() as m:
        m.setattr(regime, "BYTE_LIMIT", -1)
        m.setattr(regime, "ROW_LIMIT", -1)
        shuffle = run()
    return resident, shuffle


def broadcast_regime(monkeypatch, run, edges):
    """``run()`` with the byte ceiling shrunk below any table and the row
    ceiling at the vertex count of ``edges``: an edge table with more
    rows than vertices no longer fits while its vertex table does, so
    PageRank's ``"auto"`` broadcasts its vertex-sized state. None when
    ``edges`` has no more rows than vertices (the run would stay
    resident)."""
    n = edges.select("src").union(edges.select("dst")).distinct().count()
    if edges.count() <= n:
        return None
    with monkeypatch.context() as m:
        m.setattr(regime, "BYTE_LIMIT", -1)
        m.setattr(regime, "ROW_LIMIT", n)
        return run()
