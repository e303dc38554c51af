"""Connected components ([EXT], BASELINE.json north_rule).

Two strategies:

- ``connected_components`` — alternating large-star / small-star
  (Kiveris et al., "Connected Components in MapReduce and Beyond",
  SoCC'14): O(log n) rounds on any graph; each round is two join+agg
  passes that *shrink* the edge set toward star graphs rooted at
  component minima. No diameter dependence — the 100 TB path for web
  graphs whose components can be deep.

- ``connected_components_minlabel`` — synchronous min-label propagation,
  O(diameter) rounds; kept as a cross-check and for shallow graphs.

Both return ``v, comp`` with comp = min vertex id in the component
(every vertex of the input present, including each component minimum).
Convergence is detected by state-equality across a check window
(fixpoint ⇒ equality is exact, see iterative.iterate).

``connected_components`` runs RESIDENT whenever the edge table fits the
broadcast ceiling (``regime.fits_broadcast``): the same large-star /
small-star rounds in numpy on the collected edge positions, so the
state, the stop round and the ``state_dir`` rounds are the distributed
form's.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from trianglecount_spark.operators.iterative import (
    IterationLog,
    collect_edges,
    iterate,
    iterate_resident,
    local_frame,
    vertex_field,
)
from trianglecount_spark.operators.regime import fits_broadcast


def _sym(edges: DataFrame) -> DataFrame:
    return edges.select("src", "dst").unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )


def _sig_delta(prev: DataFrame, cur: DataFrame) -> float:
    """0.0 iff the two edge/label sets are identical (count + hash sum)."""
    def sig(df: DataFrame):
        cols = df.columns
        # bit_xor is order-insensitive and cannot overflow (ANSI mode safe)
        return tuple(
            df.agg(
                F.count("*"),
                F.coalesce(F.expr(f"bit_xor(xxhash64({', '.join(cols)}))"), F.lit(0)),
            ).collect()[0]
        )

    return 0.0 if sig(prev) == sig(cur) else 1.0


def connected_components(
    edges: DataFrame,
    max_iter: int = 50,
    check_every: int = 2,
    state_dir: str | None = None,
    resume: bool = False,
) -> tuple[DataFrame, IterationLog]:
    """Large-star/small-star. Input: undirected edge list (any direction;
    self-loops ignored). Iterated state: the shrinking parent-link edge
    set, converging to stars (u → component min). No rounds run (empty
    log) when the graph has no edge between distinct vertices."""
    if fits_broadcast(edges):
        return _components_resident(edges, max_iter, check_every, state_dir, resume)
    all_v = (
        edges.select(F.col("src").alias("v"))
        .unionByName(edges.select(F.col("dst").alias("v")))
        .distinct()
    )
    state = (
        _sym(edges).where(F.col("src") != F.col("dst")).distinct()
        .localCheckpoint(eager=True)
    )
    if state.isEmpty():
        # no rounds to run: every vertex is its own component
        return all_v.select("v", F.col("v").alias("comp")), IterationLog()

    def large_star(e: DataFrame) -> DataFrame:
        # for each u over the symmetric neighborhood: m = min(N(u) ∪ {u});
        # emit (v, m) for v ∈ N(u) with v > u
        s = _sym(e).distinct()
        mins = s.groupBy("src").agg(F.least(F.min("dst"), F.col("src")).alias("m"))
        return (
            s.where(F.col("dst") > F.col("src"))
            .join(mins, "src")
            .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
            .distinct()
        )

    def small_star(e: DataFrame) -> DataFrame:
        # orient (max, min); for each u: m = min(N≤(u)); emit (v, m) for
        # v ∈ N≤(u) ∪ {u}, dropping self-links
        o = (
            e.select(F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst"))
            .where(F.col("src") != F.col("dst"))
            .distinct()
        )
        mins = o.groupBy("src").agg(F.min("dst").alias("m"))
        nbrs = o.join(mins, "src").select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        selfs = mins.select("src", F.col("m").alias("dst"))
        return nbrs.unionByName(selfs).where(F.col("src") != F.col("dst")).distinct()

    def step(e: DataFrame, i: int) -> DataFrame:
        return small_star(large_star(e))

    final_edges, log = iterate(
        state,
        step,
        _sig_delta,
        max_iter=max_iter,
        tol=0.0,
        check_every=check_every,
        state_dir=state_dir,
        resume=resume,
    )
    # converged state: star edges (u → comp_min); add the roots themselves
    comp = final_edges.select(F.col("src").alias("v"), F.col("dst").alias("comp"))
    roots = final_edges.select(F.col("dst").alias("v"), F.col("dst").alias("comp"))
    assigned = comp.unionByName(roots).groupBy("v").agg(F.min("comp").alias("comp"))
    result = all_v.join(assigned, "v", "left").select(
        "v", F.coalesce("comp", "v").alias("comp")
    )
    return result, log


def _components_resident(
    edges, max_iter, check_every, state_dir, resume
) -> tuple[DataFrame, IterationLog]:
    """``connected_components``' rounds on vertex positions: the state
    is the sorted distinct edge set packed as ``src·n + dst``
    (``ResidentGraph.symmetric_keys``), which makes ``distinct`` a
    ``np.unique`` and the delta an array comparison."""
    g = collect_edges(edges)
    n, spark = g.n, edges.sparkSession

    def distinct(a: np.ndarray, b: np.ndarray) -> np.ndarray:
        return np.unique(a * n + b)

    def mins(src: np.ndarray, dst: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        # per distinct src, min dst — the first of its run in a sorted key
        first = np.ones(len(src), dtype=bool)
        first[1:] = src[1:] != src[:-1]
        m = np.full(n, n)
        m[src[first]] = dst[first]
        return src[first], m

    def large_star(key: np.ndarray) -> np.ndarray:
        a, b = np.divmod(key, n)
        src, dst = np.divmod(distinct(np.concatenate([a, b]), np.concatenate([b, a])), n)
        _, m = mins(src, dst)
        m = np.minimum(m, np.arange(n))
        up = dst > src
        return distinct(dst[up], m[src[up]])

    def small_star(key: np.ndarray) -> np.ndarray:
        a, b = np.divmod(key, n)
        hi, lo = np.maximum(a, b), np.minimum(a, b)
        keep = hi != lo
        src, dst = np.divmod(distinct(hi[keep], lo[keep]), n)
        roots, m = mins(src, dst)
        s = np.concatenate([dst, roots])
        d = np.concatenate([m[src], m[roots]])
        keep = s != d
        return distinct(s[keep], d[keep])

    vf = vertex_field(edges)
    schema = StructType([vf, StructField("comp", vf.dataType, vf.nullable)])
    edge_schema = StructType(
        [StructField(c, vf.dataType, vf.nullable) for c in ("src", "dst")]
    )

    def to_frame(key: np.ndarray) -> DataFrame:
        a, b = np.divmod(key, n)
        return local_frame(spark, edge_schema, [g.vertices[a], g.vertices[b]])

    def from_frame(df: DataFrame) -> np.ndarray:
        t = df.select("src", "dst").toArrow()
        return distinct(
            g.positions(t.column("src").to_numpy()), g.positions(t.column("dst").to_numpy())
        )

    state = g.symmetric_keys()
    log = IterationLog()
    if len(state):
        state, log = iterate_resident(
            state,
            lambda key, i: small_star(large_star(key)),
            lambda prev, cur: 0.0 if np.array_equal(prev, cur) else 1.0,
            max_iter=max_iter,
            check_every=check_every,
            state_dir=state_dir,
            resume=resume,
            spark=spark,
            to_frame=to_frame,
            from_frame=from_frame,
        )
    # comp = min over the star edges (u → root) and the roots themselves,
    # else the vertex itself — the distributed form's final join
    a, b = np.divmod(state, n)
    comp = np.full(n, n)
    np.minimum.at(comp, a, b)
    np.minimum.at(comp, b, b)
    comp = np.where(comp == n, np.arange(n), comp)
    return local_frame(spark, schema, [g.vertices, g.vertices[comp]]), log


def connected_components_minlabel(
    edges: DataFrame,
    max_iter: int = 100,
    check_every: int = 4,
) -> tuple[DataFrame, IterationLog]:
    """Synchronous min-label propagation to fixpoint (O(diameter))."""
    sym = _sym(edges).where(F.col("src") != F.col("dst")).distinct().cache()
    all_v = (
        edges.select(F.col("src").alias("v"))
        .unionByName(edges.select(F.col("dst").alias("v")))
        .distinct()
    )
    init = all_v.select("v", F.col("v").alias("comp"))

    def step(labels: DataFrame, i: int) -> DataFrame:
        nbr_min = (
            sym.join(labels.withColumnRenamed("v", "src"), "src")
            .groupBy(F.col("dst").alias("v"))
            .agg(F.min("comp").alias("nbr_comp"))
        )
        return labels.join(nbr_min, "v", "left").select(
            "v", F.least(F.col("comp"), F.coalesce("nbr_comp", "comp")).alias("comp")
        )

    return iterate(
        init, step, _sig_delta, max_iter=max_iter, tol=0.0, check_every=check_every
    )
