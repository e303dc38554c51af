"""PageRank as iterative DataFrame joins ([EXT], BASELINE.json north_rule).

Power iteration with damping ``alpha``, dangling mass redistributed
uniformly. Uses the *missing-mass closure*: since total rank is 1 every
round, the teleport + dangling term equals whatever mass the edge pass
did not deliver —

    r~(v)  = a * Σ_{u→v} r(u)/outdeg(u)
    r'(v)  = r~(v) + (1 - Σ_v r~(v)) / N

which is algebraically identical to the textbook
``(1-a)/N + a*(contrib + dangling/N)`` form (the undelivered mass is
exactly ``(1-a) + a*dangling``), but needs NO separate dangling-vertex
aggregate — one shuffle join + one hash aggregate per round, with the
closure constant folded back in plan-side as a broadcast 1-row
aggregate (no per-round driver collect on either path).

Physical shape per round:
  - join ranks ⋈ weighted edges on src (1/outdeg folded into the cached
    edge table once, up front; the edge table is hash-partitioned on src
    a single time and reused — only the rank vector shuffles per round),
  - groupBy dst (map-side partial agg),
  - localCheckpoint (lineage truncation; the GraphX-style per-round
    materialization) — the round's ONLY job: the closure constant is a
    broadcast 1-row aggregate whose duplicated subtree dedupes via
    ReusedExchange at execution.

Skewed in-degree (hub pages) lands in the aggregation, not the join —
partial aggregation absorbs it without salting.

Three regimes, chosen by ``broadcast_state="auto"`` (the default) in
this order:
  1. resident, while the edge table fits the broadcast ceiling
     (``regime.resident_graph``): the same algebra as numpy over the
     collected edge table — one ``bincount`` per round instead of one
     Spark job;
  2. broadcast, while the vertex table fits it
     (``regime.fits_broadcast`` on the cached vertex table): the rank
     vector broadcasts onto an edge table partitioned on dst, so a
     round's edge-sized work runs with no shuffle — measured 2.3x faster
     than the shuffle plan at 32M raw edges / 2M vertices (README
     "Measured regime rules", pagerank10bc);
  3. shuffle: the rank vector shuffles onto an edge table partitioned on
     src — the plan for vertex state that cannot broadcast.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StructField, StructType

from trianglecount_spark.operators.iterative import (
    IterationLog,
    iterate,
    local_frame,
    vertex_field,
)
from trianglecount_spark.operators.regime import fits_broadcast, resident_graph


def pagerank(
    edges: DataFrame,
    alpha: float = 0.85,
    tol: float = 1e-9,
    max_iter: int = 100,
    check_every: int = 4,
    state_dir: str | None = None,
    resume: bool = False,
    dangling_free: bool = False,
    teleport: DataFrame | None = None,
    weight: str | None = None,
    broadcast_state: bool | str = "auto",
    partition_metrics: bool = False,
) -> tuple[DataFrame, IterationLog]:
    """PageRank over a *directed* edge table ``src, dst``.

    For reference-parity on the undirected web graph, pass the symmetric
    edge table from ``canonicalize_edges``. Returns (``v, rank``, log);
    ranks sum to 1. ``tol`` is the L1 delta across a ``check_every``-round
    window (conservative vs per-round delta).

    ``dangling_free=True`` asserts every vertex has at least one
    out-edge (always true for a symmetric edge table): the undelivered
    mass is then exactly ``1 - alpha``, so the per-round scalar-sum
    action disappears and each round is a single job (one shuffle join +
    one agg + the checkpoint). Do NOT set it on directed graphs with
    sinks — their teleport share would be silently dropped.

    ``teleport`` (optional ``v, s`` with Σs = 1) makes this
    *personalized* PageRank: the undelivered mass (teleport + dangling)
    is redistributed by ``s`` instead of uniformly — the closure algebra
    is unchanged, ``r'(v) = r~(v) + (1 − Σ r~)·s(v)``, still one job per
    round. The uniform default is exactly ``teleport = 1/N``.

    ``weight`` names an integer edge-weight column: contributions become
    ``rank(u)·w(u,v)/W_out(u)`` (W_out = Σ out-weights, an exact integer
    sum, so the per-edge fraction is one IEEE division — as
    deterministic as the unweighted 1/outdeg). Same plan shape: the
    normalized weight folds into the cached edge table once.

    ``broadcast_state``: ``"auto"`` (default) picks the resident,
    broadcast or shuffle regime (module docstring); ``True`` and
    ``False`` force the broadcast and shuffle plans. Any other value
    raises: a typo like ``"Auto"`` is a truthy string and must not
    silently pick a regime. Same result, log keys and ``state_dir``
    rounds in every regime; an empty edge table gives an empty result
    and log.
    """
    if broadcast_state not in (True, False, "auto"):
        raise ValueError(
            f"broadcast_state must be True, False or 'auto', got {broadcast_state!r}"
        )
    g = (
        resident_graph(edges, *([weight] if weight else []))
        if broadcast_state == "auto"
        else None
    )
    schema = StructType([
        vertex_field(edges),
        # the rank expression is non-null in the dangling-free and
        # teleport forms, nullable (a division) in the uniform closure
        StructField("rank", DoubleType(), not dangling_free and teleport is None),
    ])
    if g is not None:
        return _pagerank_resident(
            edges, g, schema, alpha, tol, max_iter, check_every, state_dir, resume,
            dangling_free, teleport, weight, partition_metrics,
        )
    verts = (
        edges.select(F.col("src").alias("v"))
        .unionByName(edges.select(F.col("dst").alias("v")))
        .distinct()
        .cache()
    )
    n = verts.count()
    if n == 0:
        verts.unpersist()
        return local_frame(edges.sparkSession, schema, [[], []]), IterationLog()
    # the probe reads the cached table's size: no job unless its
    # estimate is over the ceiling, then one count of the cache
    broadcast = fits_broadcast(verts) if broadcast_state == "auto" else broadcast_state
    if teleport is not None:
        # s joined once onto the (cached) vertex table; absent rows get 0
        verts = (
            verts.join(teleport.select("v", "s"), "v", "left")
            .select("v", F.coalesce("s", F.lit(0.0)).alias("s"))
            .cache()
        )
        verts.count()
    agg_out = F.count("*") if weight is None else F.sum(weight)
    outdeg = edges.groupBy("src").agg(agg_out.alias("outdeg"))
    per_edge = F.lit(1.0) if weight is None else F.col(weight).cast("double")
    # broadcast: the vertex-sized rank vector broadcasts onto the edge
    # table each round, so the contribution join needs no edge
    # partitioning — pre-partition ew on DST instead, and the groupBy(dst)
    # aggregate reuses it: a round's edge-sized work runs with NO shuffle.
    # Shuffle (vertex state over the ceiling — 10^12 urls): the join
    # partitions ew on src and ships only the vertex-sized vector per round.
    pin = F.broadcast if broadcast else (lambda df: df)
    ew = (
        edges.join(outdeg, "src")
        .select("src", "dst", (per_edge / F.col("outdeg")).alias("w"))
        .repartition("dst" if broadcast else "src")
        .cache()
    )
    ew.count()

    if teleport is None:
        init = verts.select("v", F.lit(1.0 / n).alias("rank"))
    else:
        init = verts.select("v", F.col("s").alias("rank"))

    def step(ranks: DataFrame, i: int) -> DataFrame:
        contribs = (
            ew.join(pin(ranks.withColumnRenamed("v", "src")), "src")
            .groupBy(F.col("dst").alias("v"))
            .agg(F.sum(F.col("rank") * F.col("w")).alias("contrib"))
        )
        if dangling_free:
            # undelivered mass is exactly (1 - alpha): pure plan
            # transform, iterate()'s checkpoint is the round's only job
            share = (
                F.lit((1.0 - alpha) / n)
                if teleport is None
                else F.lit(1.0 - alpha) * F.col("s")
            )
            return verts.join(contribs, "v", "left").select(
                "v",
                (
                    F.lit(alpha) * F.coalesce(F.col("contrib"), F.lit(0.0)) + share
                ).alias("rank"),
            )
        tilde = verts.join(contribs, "v", "left").select(
            "v",
            (F.lit(alpha) * F.coalesce(F.col("contrib"), F.lit(0.0))).alias("rt"),
            *([] if teleport is None else [F.col("s")]),
        )
        # undelivered mass stays PLAN-side: a broadcast 1-row aggregate
        # crossJoined back in, instead of a per-round driver collect().
        # ``tilde`` appears twice in the plan but its shuffle exchanges
        # dedupe (ReusedExchange), so iterate()'s checkpoint remains the
        # round's single job with no driver round-trip.
        if teleport is None:
            mass = tilde.agg(
                ((F.lit(1.0) - F.coalesce(F.sum("rt"), F.lit(0.0))) / n).alias(
                    "_per_v"
                )
            )
            return tilde.crossJoin(F.broadcast(mass)).select(
                "v", (F.col("rt") + F.col("_per_v")).alias("rank")
            )
        mass = tilde.agg(
            (F.lit(1.0) - F.coalesce(F.sum("rt"), F.lit(0.0))).alias("_m")
        )
        return tilde.crossJoin(F.broadcast(mass)).select(
            "v", (F.col("rt") + F.col("_m") * F.col("s")).alias("rank")
        )

    def delta_fn(prev: DataFrame, cur: DataFrame) -> float:
        return (
            cur.join(prev.withColumnRenamed("rank", "prev"), "v")
            .agg(F.coalesce(F.sum(F.abs(F.col("rank") - F.col("prev"))), F.lit(0.0)))
            .collect()[0][0]
        )

    result, log = iterate(
        init,
        step,
        delta_fn,
        max_iter=max_iter,
        tol=tol,
        check_every=check_every,
        state_dir=state_dir,
        resume=resume,
        partition_metrics=partition_metrics,
        regime="broadcast" if broadcast else "shuffle",
    )
    return result.select("v", F.col("rank").cast("double")), log


def _pagerank_resident(
    edges, g, schema, alpha, tol, max_iter, check_every, state_dir, resume,
    dangling_free, teleport, weight, partition_metrics,
) -> tuple[DataFrame, IterationLog]:
    """The resident regime of ``pagerank``: the distributed plan's
    arithmetic — per-edge ``rank(u)·w(u,v)/W_out(u)`` summed on dst,
    the dangling-free or missing-mass closure — on the edge table's
    graph ``g``, as ``iterate``'s ``"resident"`` rounds."""
    n, spark = g.n, edges.sparkSession

    def to_frame(r: np.ndarray) -> DataFrame:
        return local_frame(spark, schema, [g.vertices, r])

    if n == 0:
        return to_frame(np.zeros(0)), IterationLog()
    per_edge = (
        np.ones(len(g.src)) if weight is None else g.columns[weight].astype(np.float64)
    )
    w = per_edge / np.bincount(g.src, weights=per_edge, minlength=n)[g.src]
    if teleport is None:
        s = None
        init = np.full(n, 1.0 / n)
    else:
        t = teleport.select("v", "s").dropna(subset=["v"]).toArrow()
        ids = t.column("v").to_numpy()
        pos = np.minimum(np.searchsorted(g.vertices, ids), n - 1)
        hit = g.vertices[pos] == ids
        s = np.zeros(n)
        s[pos[hit]] = t.column("s").fill_null(0).to_numpy()[hit]
        init = s

    def step(r: np.ndarray, i: int) -> np.ndarray:
        rt = alpha * np.bincount(g.dst, weights=r[g.src] * w, minlength=n)
        if dangling_free:
            return rt + ((1.0 - alpha) / n if s is None else (1.0 - alpha) * s)
        missing = 1.0 - rt.sum()
        return rt + (missing / n if s is None else missing * s)

    def from_frame(df: DataFrame) -> np.ndarray:
        t = df.select("v", "rank").toArrow()
        r = np.zeros(n)
        r[g.positions(t.column("v").to_numpy())] = t.column("rank").to_numpy()
        return r

    ranks, log = iterate(
        init,
        step,
        lambda prev, cur: np.abs(cur - prev).sum(),
        max_iter=max_iter,
        tol=tol,
        check_every=check_every,
        state_dir=state_dir,
        resume=resume,
        partition_metrics=partition_metrics,
        regime="resident",
        to_frame=to_frame,
        from_frame=from_frame,
    )
    return to_frame(ranks), log
