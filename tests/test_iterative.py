from __future__ import annotations

import numpy as np
import pytest

from tests.conftest import GOLDEN, edges_df
from trianglecount_spark.operators import regime
from trianglecount_spark.operators.canonicalize import canonicalize_edges
from trianglecount_spark.operators.components import (
    connected_components,
    connected_components_minlabel,
)
from trianglecount_spark.operators.lpa import label_propagation
from trianglecount_spark.operators.pagerank import pagerank


def numpy_pagerank(pairs, alpha=0.85, tol=1e-12, max_iter=500):
    """Dense power-iteration oracle on the canonical undirected graph."""
    und = {(a, b) for a, b in pairs if a != b}
    und |= {(b, a) for a, b in und}
    verts = sorted({v for e in und for v in e})
    idx = {v: i for i, v in enumerate(verts)}
    n = len(verts)
    A = np.zeros((n, n))
    for a, b in und:
        A[idx[b], idx[a]] = 1.0
    outdeg = A.sum(axis=0)
    r = np.full(n, 1.0 / n)
    for _ in range(max_iter):
        with np.errstate(divide="ignore", invalid="ignore"):
            contrib = np.where(outdeg > 0, r / outdeg, 0.0)
        dangling = r[outdeg == 0].sum()
        new_r = (1 - alpha) / n + alpha * (A @ contrib + dangling / n)
        if np.abs(new_r - r).sum() < tol:
            r = new_r
            break
        r = new_r
    return {v: r[idx[v]] for v in verts}


def numpy_components(pairs):
    und = {(a, b) for a, b in pairs if a != b}
    verts = sorted({v for e in und for v in e})
    parent = {v: v for v in verts}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in und:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {v: find(v) for v in verts}


def numpy_lpa(pairs, max_iter=20):
    und = {(a, b) for a, b in pairs if a != b}
    und |= {(b, a) for a, b in und}
    verts = sorted({v for e in und for v in e})
    nbrs = {v: sorted({b for a, b in und if a == v}) for v in verts}
    labels = {v: v for v in verts}
    for _ in range(max_iter):
        new = {}
        for v in verts:
            if not nbrs[v]:
                new[v] = labels[v]
                continue
            counts: dict[int, int] = {}
            for u in nbrs[v]:
                counts[labels[u]] = counts.get(labels[u], 0) + 1
            best = max(counts.items(), key=lambda kv: (kv[1], -kv[0]))
            new[v] = best[0]
        if new == labels:
            break
        labels = new
    return labels


@pytest.mark.parametrize("name", ["bowtie", "hub", "path6"])
def test_pagerank_allclose_numpy(spark, name):
    raw, _ = GOLDEN[name]
    sym = canonicalize_edges(edges_df(spark, raw))
    ranks, log = pagerank(sym, tol=1e-9, max_iter=48, check_every=8)
    got = {r.v: r.rank for r in ranks.collect()}
    want = numpy_pagerank(raw)
    assert set(got) == set(want)
    for v in want:
        assert abs(got[v] - want[v]) < 1e-6, (name, v, got[v], want[v])
    assert abs(sum(got.values()) - 1.0) < 1e-9


def numpy_pagerank_directed(pairs, alpha=0.85, n_iter=40):
    """Dense power iteration on the DIRECTED graph as given (sinks kept)."""
    dir_edges = {(a, b) for a, b in pairs if a != b}
    verts = sorted({v for e in dir_edges for v in e})
    idx = {v: i for i, v in enumerate(verts)}
    n = len(verts)
    A = np.zeros((n, n))
    for a, b in dir_edges:
        A[idx[b], idx[a]] = 1.0
    outdeg = A.sum(axis=0)
    r = np.full(n, 1.0 / n)
    for _ in range(n_iter):
        with np.errstate(divide="ignore", invalid="ignore"):
            contrib = np.where(outdeg > 0, r / outdeg, 0.0)
        dangling = r[outdeg == 0].sum()
        r = (1 - alpha) / n + alpha * (A @ contrib + dangling / n)
    return {v: r[idx[v]] for v in verts}


def test_pagerank_directed_sinks_allclose(spark):
    # 2 is a pure sink, 5 dangles off a chain — exercises the general
    # path's missing-mass closure on a graph where undelivered > 1-alpha
    raw = [(0, 1), (1, 2), (3, 2), (3, 4), (4, 0), (0, 5)]
    ranks, _ = pagerank(edges_df(spark, raw), tol=0.0, max_iter=40, check_every=40)
    got = {r.v: r.rank for r in ranks.collect()}
    want = numpy_pagerank_directed(raw)
    assert set(got) == set(want)
    for v in want:
        assert abs(got[v] - want[v]) < 1e-9, (v, got[v], want[v])
    assert abs(sum(got.values()) - 1.0) < 1e-9


def test_pagerank_general_path_no_per_round_collect(spark, monkeypatch):
    # the missing-mass closure must stay PLAN-side: the only driver
    # collect() in a pagerank run is the convergence delta at each check
    # round — a per-round scalar collect serializes every round on a
    # driver round-trip at 1000 executors. Patch the CLASSIC DataFrame
    # (pyspark 4 splits classic/connect; the base class's collect is
    # overridden and never runs).
    from pyspark.sql.classic.dataframe import DataFrame

    calls = {"n": 0}
    orig = DataFrame.collect

    def counting(self):
        calls["n"] += 1
        return orig(self)

    monkeypatch.setattr(DataFrame, "collect", counting)
    raw = [(0, 1), (1, 2), (3, 2), (3, 4), (4, 0)]
    pagerank(edges_df(spark, raw), tol=0.0, max_iter=6, check_every=6)
    assert calls["n"] == 1, f"expected only the delta_fn collect, saw {calls['n']}"


def test_pagerank_dangling_free_matches_default(spark):
    # symmetric graph ⇒ no dangling vertices ⇒ the one-job-per-round
    # fast path must agree with the missing-mass-closure path to FP noise
    raw, _ = GOLDEN["bowtie"]
    sym = canonicalize_edges(edges_df(spark, raw))
    a, _ = pagerank(sym, tol=0.0, max_iter=10, check_every=10)
    b, _ = pagerank(sym, tol=0.0, max_iter=10, check_every=10, dangling_free=True)
    ga = {r.v: r.rank for r in a.collect()}
    gb = {r.v: r.rank for r in b.collect()}
    assert set(ga) == set(gb)
    for v in ga:
        assert abs(ga[v] - gb[v]) < 1e-12, (v, ga[v], gb[v])


def test_pagerank_materialize_cadence_invariant(spark):
    # lazy K-round chains (materialize_every > 1) are a physical-plan
    # change only: the arithmetic graph is identical, so ranks must match
    # the eager per-round form exactly, including at a cadence that does
    # not divide max_iter
    raw, _ = GOLDEN["hub"]
    sym = canonicalize_edges(edges_df(spark, raw))
    base, _ = pagerank(
        sym, tol=0.0, max_iter=7, check_every=7, dangling_free=True,
        materialize_every=1,
    )
    gb = {r.v: r.rank for r in base.collect()}
    for k in (3, 4):
        got, _ = pagerank(
            sym, tol=0.0, max_iter=7, check_every=7, dangling_free=True,
            materialize_every=k,
        )
        gk = {r.v: r.rank for r in got.collect()}
        assert set(gk) == set(gb)
        # same arithmetic graph; only summation order inside partial
        # aggs can differ between the physical plans
        for v in gb:
            assert abs(gk[v] - gb[v]) < 1e-12, (k, v)


@pytest.mark.parametrize("name", ["two_tris", "path6", "hub"])
def test_components_both_strategies(spark, name, monkeypatch):
    raw, _ = GOLDEN[name]
    e = edges_df(spark, raw).where("src != dst")
    want = numpy_components(raw)
    got_star, _ = connected_components(e)
    got_ml, _ = connected_components_minlabel(e, check_every=4)
    assert {r.v: r.comp for r in got_star.collect()} == want
    assert {r.v: r.comp for r in got_ml.collect()} == want
    # both regimes of the star-contraction form
    (res, res_log), (shu, shu_log) = _both_regimes(
        monkeypatch, lambda: connected_components(e)
    )
    assert {r["regime"] for r in res_log.rounds} == {"resident"}
    assert {r["regime"] for r in shu_log.rounds} == {"shuffle"}
    assert {r.v: r.comp for r in res.collect()} == want
    assert {r.v: r.comp for r in shu.collect()} == want


def test_components_two_tris_exact(spark):
    e = edges_df(spark, GOLDEN["two_tris"][0])
    got, _ = connected_components(e)
    comp = {r.v: r.comp for r in got.collect()}
    assert comp == {0: 0, 1: 0, 2: 0, 3: 3, 4: 3, 5: 3}


@pytest.mark.parametrize("name", ["two_tris", "k4"])
def test_lpa_matches_numpy(spark, name):
    raw, _ = GOLDEN[name]
    e = edges_df(spark, raw)
    got, _ = label_propagation(e, max_iter=12)
    want = numpy_lpa(raw, max_iter=12)
    assert {r.v: r.label for r in got.collect()} == want
    resident, log = label_propagation(e, max_iter=12, broadcast_state="auto")
    assert {r["regime"] for r in log.rounds} == {"resident"}
    assert {r.v: r.label for r in resident.collect()} == want


def test_pagerank_resume(spark, tmp_path):
    raw, _ = GOLDEN["bowtie"]
    sym = canonicalize_edges(edges_df(spark, raw))
    state_dir = str(tmp_path / "pr_state")
    # run 8 rounds (2 checks), persisting state
    r1, log1 = pagerank(sym, tol=0.0, max_iter=8, check_every=4, state_dir=state_dir)
    # resume and run to convergence; must agree with a fresh full run
    r2, log2 = pagerank(
        sym, tol=1e-10, max_iter=32, check_every=4, state_dir=state_dir, resume=True
    )
    fresh, _ = pagerank(sym, tol=1e-10, max_iter=32, check_every=4)
    a = {r.v: r.rank for r in r2.collect()}
    b = {r.v: r.rank for r in fresh.collect()}
    assert all(abs(a[v] - b[v]) < 1e-8 for v in a)
    assert log2.rounds[0]["round"] > 7  # actually resumed past round 8


def test_pagerank_resume_skips_partial_round_dir(spark, tmp_path):
    """r4 advisor: mode("overwrite") deletes the target before writing,
    so a crash mid-checkpoint leaves a partial round=N dir without its
    _SUCCESS marker — resume must fall back to the highest COMPLETE
    round, not silently read half-written state parquet."""
    import os

    raw, _ = GOLDEN["bowtie"]
    sym = canonicalize_edges(edges_df(spark, raw))
    state_dir = str(tmp_path / "pr_state")
    r1, _ = pagerank(sym, tol=0.0, max_iter=8, check_every=4, state_dir=state_dir)
    # plant the crash artifact: a higher round dir with no _SUCCESS
    os.makedirs(f"{state_dir}/round=99")
    r2, log2 = pagerank(
        sym, tol=1e-10, max_iter=32, check_every=4, state_dir=state_dir, resume=True
    )
    # resumed from the complete round 7, not the partial round 99
    # (which would have set start_round=100 >= max_iter and returned
    # the unreadable planted state outright)
    assert log2.rounds and 7 < log2.rounds[0]["round"] < 32
    fresh, _ = pagerank(sym, tol=1e-10, max_iter=32, check_every=4)
    a = {r.v: r.rank for r in r2.collect()}
    b = {r.v: r.rank for r in fresh.collect()}
    assert all(abs(a[v] - b[v]) < 1e-8 for v in a)


def test_pagerank_partition_metrics(spark):
    # north_rule: per-partition lineage + metrics — check rounds must
    # record the per-partition row histogram and a skew ratio.
    raw, _ = GOLDEN["bowtie"]
    sym = canonicalize_edges(edges_df(spark, raw))
    _, log = pagerank(sym, tol=0.0, max_iter=4, check_every=4, partition_metrics=True)
    entry = log.rounds[-1]
    assert entry["rows_total"] == sym.select("src").distinct().count()
    assert entry["rows_max_partition"] >= 1
    assert entry["skew_ratio"] >= 1.0
    assert sum(entry["rows_per_partition"]) == entry["rows_total"]


def test_pagerank_weighted_matches_numpy(spark):
    import numpy as np
    from pyspark.sql import functions as F

    from trianglecount_spark.operators.pagerank import pagerank

    rng = np.random.default_rng(5)
    n = 12
    rows = [
        (int(a), int(b), int(w))
        for (a, b), w in zip(
            {(int(x), int(y)) for x, y in rng.integers(0, n, size=(40, 2)) if x != y},
            rng.integers(1, 6, size=200),
        )
    ]
    wg = spark.createDataFrame(rows, "src long, dst long, wt long")
    ranks, _ = pagerank(wg, tol=0.0, max_iter=20, check_every=20, weight="wt")
    got = {r.v: r.rank for r in ranks.collect()}

    verts = sorted({x for a, b, _ in rows for x in (a, b)})
    idx = {v: i for i, v in enumerate(verts)}
    m = np.zeros((len(verts), len(verts)))
    wout = {}
    for a, b, w in rows:
        wout[a] = wout.get(a, 0) + w
    for a, b, w in rows:
        m[idx[b], idx[a]] += w / wout[a]
    r = np.full(len(verts), 1.0 / len(verts))
    for _ in range(20):
        rt = 0.85 * (m @ r)
        r = rt + (1.0 - rt.sum()) / len(verts)
    assert np.allclose([got[v] for v in verts], r, atol=1e-12)


def test_label_spreading_two_clusters(spark):
    from pyspark.sql import functions as F
    from trianglecount_spark.operators.lpa import label_spreading

    # two 5-cliques joined by one bridge edge; one seed in each clique
    left = [(a, b) for a in range(5) for b in range(5) if a < b]
    right = [(a + 10, b + 10) for a, b in left]
    edges = spark.createDataFrame(
        left + right + [(4, 10)], "src long, dst long"
    )
    sym = edges.unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct()
    seeds = spark.createDataFrame([(0, 7), (13, 9)], "v long, label int")
    out = {r.v: r.label for r in label_spreading(sym, seeds, rounds=3).collect()}
    # seeds clamped
    assert out[0] == 7 and out[13] == 9
    # cliques adopt their seed's label
    assert all(out[v] == 7 for v in range(5))
    assert all(out[v + 10] == 9 for v in range(5))


# ---------------------------------------------------------------------------
# resident vs distributed regimes
# ---------------------------------------------------------------------------


def _both_regimes(monkeypatch, run):
    """``run()`` as is — resident on these small graphs — then with the
    broadcast ceilings shrunk below any table, so every ``"auto"``
    regime and ``connected_components`` run the shuffle plan."""
    resident = run()
    with monkeypatch.context() as m:
        m.setattr(regime, "BYTE_LIMIT", -1)
        m.setattr(regime, "ROW_LIMIT", -1)
        shuffle = run()
    return resident, shuffle


def _assert_regimes_agree(resident, shuffle, atol=0.0):
    (a, log_a), (b, log_b) = resident, shuffle
    assert a.schema == b.schema
    assert log_a.rounds and log_b.rounds
    assert {r["regime"] for r in log_a.rounds} == {"resident"}
    assert {r["regime"] for r in log_b.rounds} == {"shuffle"}
    assert [r["round"] for r in log_a.rounds] == [r["round"] for r in log_b.rounds]
    ga = {r[0]: r[1] for r in a.collect()}
    gb = {r[0]: r[1] for r in b.collect()}
    assert a.count() == len(ga) and set(ga) == set(gb)
    if atol:
        assert all(abs(ga[v] - gb[v]) <= atol for v in ga)
    else:
        assert ga == gb


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


# url-like keys only where the order of ids decides the result and the
# distributed form takes them: components (the distributed LPA breaks
# ties on the negated label, so it needs numeric ids)
NUMERIC_GRAPHS = sorted(n for n, (_, typ) in CROSS_GRAPHS.items() if typ != "string")


def _cross_edges(spark, name):
    raw, typ = CROSS_GRAPHS[name]
    return spark.createDataFrame(raw, f"src {typ}, dst {typ}")


@pytest.mark.parametrize("name", NUMERIC_GRAPHS)
def test_pagerank_regimes_agree(spark, name, monkeypatch):
    sym = canonicalize_edges(_cross_edges(spark, name))
    _assert_regimes_agree(*_both_regimes(monkeypatch, lambda: pagerank(
        sym, tol=1e-6, max_iter=8, check_every=4, broadcast_state="auto",
    )), atol=1e-12)


@pytest.mark.parametrize("name", sorted(CROSS_GRAPHS))
def test_components_regimes_agree(spark, name, monkeypatch):
    e = _cross_edges(spark, name)
    _assert_regimes_agree(*_both_regimes(monkeypatch, lambda: connected_components(e)))


@pytest.mark.parametrize("name", NUMERIC_GRAPHS)
def test_lpa_regimes_agree(spark, name, monkeypatch):
    e = _cross_edges(spark, name)
    _assert_regimes_agree(*_both_regimes(monkeypatch, lambda: label_propagation(
        e, max_iter=8, check_every=2, broadcast_state="auto",
    )))


@pytest.mark.parametrize("form", ["uniform", "dangling_free", "teleport", "weight"])
def test_pagerank_forms_regimes_agree(spark, form, monkeypatch):
    """Directed sinks for the missing-mass closure, the symmetric hub for
    the dangling-free share; personalized and weighted forms too."""
    sinks = edges_df(spark, [(0, 1), (1, 2), (3, 2), (3, 4), (4, 0), (0, 5)])
    kw = dict(tol=1e-9, max_iter=12, check_every=4, broadcast_state="auto")
    if form == "uniform":
        run = lambda: pagerank(sinks, **kw)  # noqa: E731
    elif form == "dangling_free":
        hub = canonicalize_edges(edges_df(spark, GOLDEN["hub"][0]))
        run = lambda: pagerank(hub, dangling_free=True, partition_metrics=True, **kw)  # noqa: E731
    elif form == "teleport":
        tele = spark.createDataFrame([(0, 0.5), (2, 0.25), (5, 0.25), (77, 0.0)], "v long, s double")
        run = lambda: pagerank(sinks, teleport=tele, **kw)  # noqa: E731
    else:
        wg = sinks.selectExpr("src", "dst", "(src * 3 + dst) % 4 + 1 AS wt")
        run = lambda: pagerank(wg, weight="wt", **kw)  # noqa: E731
    resident, shuffle = _both_regimes(monkeypatch, run)
    _assert_regimes_agree(resident, shuffle, atol=1e-12)
    if form == "dangling_free":
        # one resident partition holds every vertex
        entry = resident[1].rounds[-1]
        assert entry["partitions"] == entry["n_partitions_nonempty"] == 1
        assert entry["rows_per_partition"] == [entry["rows_total"]] == [101]


@pytest.mark.parametrize("op", ["pagerank", "components", "lpa"])
def test_iterative_empty_graph(spark, op, monkeypatch):
    """An empty edge table gives an empty result with the schema of a
    non-empty run, and an empty log, in both regimes (pagerank used to
    divide by the zero vertex count)."""
    def run(e):
        if op == "pagerank":
            return pagerank(e, max_iter=4, broadcast_state="auto")
        if op == "components":
            return connected_components(e)
        return label_propagation(e, max_iter=4, broadcast_state="auto")

    empty = spark.createDataFrame([], "src long, dst long")
    one = edges_df(spark, [(1, 2)])
    (a, log_a), (b, log_b) = _both_regimes(monkeypatch, lambda: run(empty))
    (one_a, _), (one_b, _) = _both_regimes(monkeypatch, lambda: run(one))
    assert a.count() == b.count() == 0
    assert log_a.rounds == log_b.rounds == []
    assert a.schema == b.schema == one_a.schema == one_b.schema


def _run_op(op, e, **kw):
    if op == "pagerank":
        return pagerank(e, tol=1e-10, check_every=4, broadcast_state="auto", **kw)
    if op == "components":
        return connected_components(e, check_every=2, **kw)
    return label_propagation(e, check_every=4, broadcast_state="auto", **kw)


@pytest.mark.parametrize("op", ["pagerank", "components", "lpa"])
@pytest.mark.parametrize("writer", ["resident", "shuffle"])
def test_resume_across_regimes(spark, tmp_path, monkeypatch, op, writer):
    """Rounds written by one regime resume in the other; the partial
    round rule (a round=N dir without _SUCCESS is ignored) holds."""
    import os

    e = canonicalize_edges(edges_df(spark, GOLDEN["hub"][0]))
    first_iter = 2 if op == "components" else 8
    state_dir = str(tmp_path / "state")

    def shrunk(m):
        m.setattr(regime, "BYTE_LIMIT", -1)
        m.setattr(regime, "ROW_LIMIT", -1)

    with monkeypatch.context() as m:
        if writer == "shuffle":
            shrunk(m)
        _, log1 = _run_op(op, e, max_iter=first_iter, state_dir=state_dir)
    assert log1.rounds[-1]["regime"] == writer
    os.makedirs(f"{state_dir}/round=99")  # a crash mid-write
    with monkeypatch.context() as m:
        if writer == "resident":
            shrunk(m)
        got, log2 = _run_op(op, e, max_iter=16, state_dir=state_dir, resume=True)
        fresh, _ = _run_op(op, e, max_iter=16)
    assert {r["regime"] for r in log2.rounds} == {"resident", "shuffle"} - {writer}
    assert first_iter - 1 < log2.rounds[0]["round"] < 16
    a = {r[0]: r[1] for r in got.collect()}
    b = {r[0]: r[1] for r in fresh.collect()}
    assert set(a) == set(b)
    assert all(abs(a[v] - b[v]) < 1e-8 for v in a)
