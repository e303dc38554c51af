"""Per-vertex and whole-graph metrics ([EXT]): clustering coefficient,
assortativity, k-core, link prediction (Jaccard + resource allocation),
butterfly counting, BFS/SSSP, shortest-path counting, stress
centrality (integer two-pass Brandes), truncated Katz, 4-cliques, and
densest-subgraph peeling.

The reference computes per-vertex triangle counts with anchor
attribution (g_sum, Final_updated_corrected.cu:57-219); the standard
web-graph metrics on top of that need all-corner attribution (each
triangle credits its three vertices) and degree normalization — both are
pure DataFrame compositions here, no new kernel:

- ``clustering_coefficient``: lcc(v) = 2·T(v) / (deg(v)·(deg(v)−1)).
  One wedge-join triangle enumeration + one explode of the 3 corners +
  one hash agg — every step JVM-side, shuffles only on vertex id.
- ``k_core``: iterative peeling (drop vertices with degree < k until a
  fixpoint). Each round is one groupBy + two semi-joins — all key-
  partitioned on vertex id, so at scale consecutive rounds reuse the
  same hash partitioning. Runs on the shared ``iterate`` driver
  (lineage truncation via localCheckpoint, lazy chaining between
  convergence checks); the round count is capped so the result is also
  expressible as a fixed unrolled SQL chain for the DuckDB oracle —
  a fixpoint is stable under extra rounds, so early-stop and the
  fixed-round oracle agree whenever the cap covers the peel depth.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from trianglecount_spark.operators.canonicalize import degrees, orient
from trianglecount_spark.operators.iterative import IterationLog, iterate
from trianglecount_spark.operators.regime import fits_broadcast
from trianglecount_spark.operators.triangles import triangles_join


def triangles_per_vertex_all(oriented: DataFrame) -> DataFrame:
    """``v, tri`` with ALL-corner attribution: each (u ≺ v ≺ w) triangle
    credits u, v and w once. Complements the anchor-attributed
    ``triangles_per_vertex_join`` (reference g_sum semantics)."""
    t = triangles_join(oriented)
    corners = (
        t.select(F.col("u").alias("v"))
        .unionAll(t.select("v"))
        .unionAll(t.select(F.col("w").alias("v")))
    )
    return corners.groupBy("v").agg(F.count("*").alias("tri"))


def clustering_coefficient(sym_edges: DataFrame) -> DataFrame:
    """Local clustering coefficient over a canonical symmetric edge
    table: ``v, deg, tri, lcc`` for every vertex, lcc = 0 when deg < 2.

    tri/deg are exact integers and lcc is one double division of them,
    so the result is bit-reproducible across engines (the oracle relies
    on this — no rounding needed)."""
    deg = degrees(sym_edges)
    tri = triangles_per_vertex_all(orient(sym_edges, deg))
    return deg.join(tri, "v", "left").select(
        "v",
        "deg",
        F.coalesce("tri", F.lit(0)).alias("tri"),
        F.when(
            F.col("deg") >= 2,
            F.lit(2.0)
            * F.coalesce("tri", F.lit(0))
            / (F.col("deg") * (F.col("deg") - 1)),
        )
        .otherwise(F.lit(0.0))
        .alias("lcc"),
    )


def degree_assortativity(sym_edges: DataFrame) -> DataFrame:
    """Degree assortativity (Pearson correlation of endpoint degrees
    over directed edge copies) of a symmetric edge table — one row
    ``n_dir_edges, num, den, assortativity``.

    On a symmetric table the x/y marginals coincide (Sy = Sx,
    Syy = Sxx), so Pearson r collapses to the sqrt-free rational form
    r = (n·Sxy − Sx²) / (n·Sxx − Sx²): every moment is an exact int64
    (bounded ~1e16 at sf0.01, well inside both int64 and the oracle's
    HUGEINT), and the single double division is bit-reproducible across
    engines. Shape: the same two degree joins as ``orient`` + one
    all-column aggregate — no extra shuffle beyond them."""
    deg = degrees(sym_edges)
    d_src = deg.select(F.col("v").alias("src"), F.col("deg").alias("dx"))
    d_dst = deg.select(F.col("v").alias("dst"), F.col("deg").alias("dy"))
    m = sym_edges.join(d_src, "src").join(d_dst, "dst")
    agg = m.agg(
        F.count("*").alias("n"),
        F.sum("dx").alias("sx"),
        F.sum(F.col("dx") * F.col("dx")).alias("sxx"),
        F.sum(F.col("dx") * F.col("dy")).alias("sxy"),
    )
    return agg.select(
        F.col("n").alias("n_dir_edges"),
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sx")).alias("num"),
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).alias("den"),
        (
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sx"))
            / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
        ).alias("assortativity"),
    )


def _wedge_centers(
    sym_edges: DataFrame, deg: DataFrame, max_center_degree: int | None
) -> DataFrame:
    """Center-side edge stream ``(v, u, cdeg)`` for the common-neighbor
    wedge join, with the hub-center mitigation the r2 verdict asked for
    (the reference's analog is its shared-memory hub tiling,
    ShareKernelTCV62_update_v1.cu:100-173): wedge volume is Σ C(d,2),
    quadratic in hub degree, and ``min_common`` bounds only the OUTPUT —
    dropping wedge centers above ``max_center_degree`` bounds the WORK
    at C(τ,2) per center BEFORE the wedge expansion. The capped score
    is a deterministic, engine-reproducible contract (the oracle
    applies the identical degree filter); τ=None is the exact form.
    The degree join carries NO forced broadcast hint: the (v, deg)
    table is vertex-sized — AQE broadcasts it while it fits (it does at
    every test scale) and falls back to a shuffle join at the
    10^12-vertex regime where a forced hint would hard-fail.

    Honest-measurement note (r3): on the sf0.1 copurchase graph the
    degree histogram is FLAT (median 119, max 222 — a co-occurrence
    projection, not a power law), so τ=150 removes only ~19% of the
    148M-wedge volume; the cap is a hub-graph control, not a win here.
    The r3 profile showed the wedge JOIN itself is cheap (4 s for 120M
    rows) and the (u, w) pair AGGREGATION is the real cost — see
    ``_pair_counts`` for the two aggregation regimes and their
    measured times."""
    centered = sym_edges.join(
        deg.select(F.col("v").alias("src"), F.col("deg").alias("cdeg")),
        "src",
    )
    if max_center_degree is not None:
        centered = centered.where(F.col("cdeg") <= max_center_degree)
    return centered.select(
        F.col("src").alias("v"), F.col("dst").alias("u"), "cdeg"
    )


def _pair_counts(
    sym_edges: DataFrame,
    deg: DataFrame,
    min_common: int,
    max_center_degree: int | None,
    with_ra: bool = True,
    kernel_parts: int | None = None,
) -> DataFrame:
    """Common-neighbor pair counts ``(u, w, common, ra_millionths)`` for
    u < w — the shared engine under both link-prediction scores
    (``common`` drives Jaccard; ``ra_millionths`` is Σ 1000000 div
    deg(center), the resource-allocation numerator — computing both in
    one pass costs one extra int64 column).

    The two kernel regime bounds are checked at plan time: the kernel
    runs iff the hub cap is set (bound 2 — per-task pair memory
    C(τ,2)·centers/task) AND the capped-center adjacency fits the
    broadcast ceiling (bound 1 — driver CSR + broadcast,
    ``regime.fits_broadcast``); anything else routes to the
    always-correct shuffle form. Uncapped hub graphs violate bound 2 by
    construction (measured 37-143 s swings from Python-heap thrash; the
    JVM shuffle agg handles the same stream spill-managed).

    Two physical regimes, both exact and bit-identical:

    The all-shuffle plan: wedge self-join on the center, then
    ``repartition('u')`` BEFORE the pair aggregation. The repartition
    matters: HashPartitioning on
    ``u`` satisfies the groupBy(u, w) clustering requirement (u is a
    subset of the group key), so the agg runs as ONE hash aggregate per
    partition instead of partial→shuffle→final over a ~100M-distinct-
    key stream whose partial pass collapses nothing and spills both
    sides (measured at sf0.1 copurchase, 120M wedges / ~100M distinct
    pairs, local[32]: plain groupBy 167 s → repartition-first 42 s).
    Works at any scale — nothing is collected or broadcast.

    The shared-graph kernel (the same regime family as the reference's
    shared-memory tiling, ShareKernelTCV62_update_v1.cu:100-173): the
    capped-center adjacency is collected to a driver CSR (three int64
    arrays, O(E_capped) ≈ 24 B/directed edge — 19 MB at sf0.1) and
    broadcast; the only shuffle is a repartition of the E-row ``(v, u)``
    edge stream by ``u``. Each task expands its rows' strict-suffix
    neighbor pairs vectorized in numpy and aggregates them locally (one
    flat-integer sort over packed ``(u_rank << 32) | w_rank`` keys — see
    the kernel comment): because ALL rows of a given u sit in one
    partition, the per-(u, w) counts are complete in-task and the
    ``min_common`` filter drops ~100% of the pair stream BEFORE anything
    is emitted — no 120M-row shuffle, no JVM hash table at all (measured
    at sf0.1, jaccard pair-count pass: 12-24 s single-shot — pure numpy
    is ~1.4 s/task; the spread is Python-worker + broadcast-deser +
    concurrent-worker memory contention — vs 41.7 s for the shuffle
    form). TWO regime bounds, both required: (1) E_capped ≤ |V|·τ int64s
    must broadcast (~8 GB at 10^9 capped directed edges); (2) each task
    holds its partitions' RAW pair stream for the flat sort — Σ
    C(d,2)/n_parts packed uint64s — so the kernel needs the hub cap to
    bound it at C(τ,2)·centers/task. UNCAPPED hub graphs violate (2): at
    sf0.1 on the events graph (τ=None) 32 concurrent workers thrash
    memory and wall time swings 37-143 s across identical reps, while
    the JVM shuffle agg handles the same stream in a stable 42 s warm —
    spill-managed execution memory vs Python heaps. The regime rule:
    kernel when capped, shuffle form when τ=None
    (q_link_prediction_exact).

    ``ra_millionths`` sums per-center integer weights ≤ 10^6 with ≤
    max-degree terms per pair — far inside float64's 2^53 exact-integer
    range in the kernel's bincount, emitted as int64; both regimes and
    the SQL oracle agree bit-for-bit."""
    centered = _wedge_centers(sym_edges, deg, max_center_degree)
    # bound 2 (the hub cap), then bound 1: the capped adjacency must fit
    # the driver-CSR broadcast
    if max_center_degree is None or not fits_broadcast(centered.select("v", "u")):
        e1 = centered.select(
            "v", "u", F.expr("1000000 div cdeg").cast("long").alias("ra_part")
        )
        e2 = sym_edges.select(F.col("src").alias("v"), F.col("dst").alias("w"))
        return (
            e1.join(e2, "v")
            .where(F.col("u") < F.col("w"))
            .repartition("u")
            .groupBy("u", "w")
            .agg(
                F.count("*").alias("common"),
                F.sum("ra_part").cast("long").alias("ra_millionths"),
            )
            .where(F.col("common") >= min_common)
        )

    import numpy as np

    spark = sym_edges.sparkSession
    # Driver CSR of the capped-center adjacency: ONE Arrow collect of
    # the BARE (v, u) pairs + a numpy lexsort on the driver. This is
    # the kernel's serial term (it grows O(E_capped)), so keep it
    # minimal: no JVM groupBy/sort_array/orderBy before the wire — a
    # flat 2-column fetch, then one driver-side lexsort builds the
    # neighbor-sorted CSR (measured ~2x less serial time than
    # collecting pre-grouped Arrow list rows at 8M edges).
    pair_tbl = centered.select("v", "u").toArrow()
    vv = pair_tbl.column("v").to_numpy(zero_copy_only=False).astype(np.int64)
    uu = pair_tbl.column("u").to_numpy(zero_copy_only=False).astype(np.int64)
    if len(vv):
        order = np.lexsort((uu, vv))
        vv, flat = vv[order], uu[order]
        centers, first = np.unique(vv, return_index=True)
        offs = np.concatenate((first, [len(vv)]))
        degs = np.diff(offs)
    else:
        centers = np.zeros(0, dtype=np.int64)
        offs = np.zeros(1, dtype=np.int64)
        flat = np.zeros(0, dtype=np.int64)
        degs = np.zeros(0, dtype=np.int64)
    ra_w = (1_000_000 // degs) if len(degs) else degs
    bc = spark.sparkContext.broadcast(
        {"cent": centers, "off": offs, "nb": flat, "raw": ra_w}
    )
    mc = int(min_common)

    def expand(batches):
        import pyarrow as pa

        d = bc.value
        cent, off, nb, raw = d["cent"], d["off"], d["nb"], d["raw"]
        # Rank the neighbor universe once per PYTHON WORKER, not per
        # task: workers are reused and the broadcast manager caches the
        # unpickled value per worker, so derived arrays memoized onto
        # it survive across tasks (one task at a time per worker — no
        # race). Broadcasting them instead would 3x the broadcast bytes
        # — the regime's binding constraint — to save re-derivable
        # O(E log E) vectorized work. (center_index, nbr_rank) packs
        # into a globally increasing flat key, so the flat CSR position
        # of (v, u) — and with it u's strict suffix in N(v) — comes
        # from ONE vectorized searchsorted instead of a per-row loop;
        # and (u_rank << 32) | w_rank packs each pair into ONE uint64,
        # so the whole per-task aggregation is a single flat-integer
        # sort (np.sort is ~20x a two-key lexsort here; requires
        # |neighbor universe| < 2^32 — implied by the broadcast regime
        # bound). Counts come from boundary diffs and the RA sum from a
        # cumsum picked at boundaries — both O(n) vectorized;
        # np.add.reduceat measured ~50x slower at the ~70%
        # distinct-key density this stream has.
        if "nd" not in d:
            d["nd"] = np.unique(nb)
            d["nrank"] = np.searchsorted(d["nd"], nb).astype(np.uint64)
            d["ckey"] = (
                np.repeat(np.arange(len(cent), dtype=np.int64), np.diff(off))
                * len(d["nd"])
                + d["nrank"].astype(np.int64)
                if len(nb)
                else np.zeros(0, dtype=np.int64)
            )
        nd, nrank, ckey = d["nd"], d["nrank"], d["ckey"]
        keys, ras = [], []
        for b in batches:
            v = b.column(0).to_numpy(zero_copy_only=False).astype(np.int64)
            u = b.column(1).to_numpy(zero_copy_only=False).astype(np.int64)
            if not len(v):
                continue
            ci = np.searchsorted(cent, v)
            urank = np.searchsorted(nd, u)
            j = np.searchsorted(ckey, ci * len(nd) + urank)
            start, end = j + 1, off[ci + 1]
            reps = end - start
            keep = reps > 0
            start, reps = start[keep], reps[keep]
            uhi = urank[keep].astype(np.uint64) << np.uint64(32)
            rak = raw[ci[keep]]
            if not len(reps):
                continue
            cum = np.zeros(len(reps) + 1, dtype=np.int64)
            np.cumsum(reps, out=cum[1:])
            # Chunk rows so one expansion's temporaries stay ≤ ~16M
            # pairs even under uncapped hub rows (same bounded-
            # temporary discipline as the triangle kernel).
            lo = 0
            while lo < len(reps):
                hi = int(
                    np.searchsorted(cum, cum[lo] + 16_000_000, side="left")
                )
                hi = max(hi, lo + 1)
                r_c, s_c = reps[lo:hi], start[lo:hi]
                c_c = cum[lo : hi + 1] - cum[lo]
                # Strict-suffix expansion (arange-minus-repeat, the
                # same trick as the triangle kernel's wedge expansion).
                ar = np.arange(c_c[-1], dtype=np.int64) - np.repeat(
                    c_c[:-1], r_c
                )
                wrank = nrank[np.repeat(s_c, r_c) + ar]
                keys.append(np.repeat(uhi[lo:hi], r_c) | wrank)
                if with_ra:
                    ras.append(np.repeat(rak[lo:hi], r_c))
                lo = hi
        if not keys:
            return
        k = np.concatenate(keys)
        if with_ra:
            # RA needs per-pair weights aligned through the sort — the
            # weighted path pays an argsort. Sums are exact: every
            # partial cumsum is an integer < 2^53.
            rr = np.concatenate(ras).astype(np.float64)
            order = np.argsort(k, kind="stable")
            k, rr = k[order], rr[order]
        else:
            k = np.sort(k)
        bnd = np.flatnonzero(np.concatenate(([True], k[1:] != k[:-1])))
        cnt = np.diff(np.concatenate((bnd, [len(k)])))
        if with_ra:
            csum = np.cumsum(rr)
            ends = np.concatenate((bnd[1:], [len(k)])) - 1
            ra = np.diff(np.concatenate(([0.0], csum[ends])))
        else:
            ra = np.zeros(len(bnd))
        m = cnt >= mc
        ku = k[bnd][m]
        yield pa.record_batch(
            [
                pa.array(nd[(ku >> np.uint64(32)).astype(np.int64)]),
                pa.array(nd[(ku & np.uint64(0xFFFFFFFF)).astype(np.int64)]),
                pa.array(cnt[m].astype(np.int64)),
                pa.array(np.rint(ra[m]).astype(np.int64)),
            ],
            names=["u", "w", "common", "ra_millionths"],
        )

    # Explicit partition count: a column-only repartition of this tiny
    # E-row stream would be AQE-coalesced to a handful of 64MB-advisory
    # partitions, serializing the kernel (measured 10-15 tasks on 32
    # cores); the EXPANSION is the work, not the shuffled bytes, so pin
    # one partition per core slot — or take ``kernel_parts`` explicitly
    # (the scaling harness pins it across parallelism levels so plans
    # stay identical; more parts also bound per-task sort memory).
    n_parts = kernel_parts or spark.sparkContext.defaultParallelism
    stream = centered.select("v", "u").repartition(n_parts, "u")
    return stream.mapInArrow(
        expand, "u long, w long, common long, ra_millionths long"
    )


def link_prediction_jaccard(
    sym_edges: DataFrame,
    min_common: int = 2,
    max_center_degree: int | None = None,
    kernel_parts: int | None = None,
) -> DataFrame:
    """Common-neighbor link prediction over a symmetric edge table:
    non-adjacent pairs ``u < w`` with ≥ ``min_common`` shared neighbors
    among centers of degree ≤ ``max_center_degree`` (all centers when
    None — the exact classical score), scored by neighborhood Jaccard
    cn / (deg(u) + deg(w) − cn). Output ``u, w, common, jaccard``.

    The pair counting runs in ``_pair_counts``, which owns the two
    physical regimes and their measured costs (sf0.1 copurchase, 120M
    wedges, local[32]: shuffle form 41.7 s; broadcast-CSR kernel
    12-24 s single-shot — chosen there, from the hub cap and the
    capped adjacency's size). On top of the counts: an anti-join
    against the edge set and two degree joins — all on the ≥min_common
    survivors, a vanishing fraction of the wedge stream. ``common`` and
    both degrees are exact integers and jaccard is one double division
    of them — bit-reproducible, no rounding in the oracle.

    Scale: wedge volume is Σ C(d,2) — quadratic in hub degree, and
    orientation can NOT prune it (every center sees all its neighbor
    pairs). ``max_center_degree`` bounds the WORK per center at C(τ,2)
    (see ``_wedge_centers``; ``min_common`` bounds only the output).

    The eager pin below keeps the wedge self-join of the shuffle form
    from re-deriving the edge table on both sides, and feeds the
    kernel's one collect + one repartition from materialized rows."""
    sym_edges = sym_edges.localCheckpoint(eager=True)
    deg = degrees(sym_edges)
    cn = _pair_counts(
        sym_edges,
        deg,
        min_common,
        max_center_degree,
        with_ra=False,
        kernel_parts=kernel_parts,
    ).drop("ra_millionths")
    existing = sym_edges.where(F.col("src") < F.col("dst")).select(
        F.col("src").alias("u"), F.col("dst").alias("w")
    )
    return (
        cn.join(existing, ["u", "w"], "left_anti")
        .join(deg.select(F.col("v").alias("u"), F.col("deg").alias("du")), "u")
        .join(deg.select(F.col("v").alias("w"), F.col("deg").alias("dw")), "w")
        .select(
            "u",
            "w",
            "common",
            (
                F.col("common").cast("double")
                / (F.col("du") + F.col("dw") - F.col("common"))
            ).alias("jaccard"),
        )
    )


def butterfly_count(
    bip_edges: DataFrame, center: str | None = None
) -> DataFrame:
    """Butterfly (bipartite 4-cycle) count over a bipartite edge table
    ``src, dst`` — the bipartite analog of the triangle count (a graph
    with parts on one side has no triangles; butterflies are its
    cohesion motif). One-row output ``n_butterflies``.

    Wedge form: every pair of same-side vertices with ``x`` common
    neighbors closes C(x, 2) butterflies, and the total is identical
    whichever side the pairs are drawn from — so the wedge *centers* go
    on the side with the smaller second degree moment Σ d(d−1)/2 (on a
    part–supplier graph: parts, deg ~4, vs supplier hubs, deg ~500 —
    a ~10× wedge-volume difference). ``center`` pins the choice
    plan-side (\"src\"/\"dst\"); None measures both moments (two tiny
    aggregate jobs) and picks.

    All arithmetic is integer (``div``), so the count is exact and the
    oracle comparison needs no rounding. Scale shape: one join keyed on
    the center vertex (wedge fan-out bounded by the chosen side's
    degrees), one hash agg on the pair key — the same two-shuffle shape
    as the oriented triangle wedge join."""
    e = bip_edges.select("src", "dst").distinct()
    if center is None:
        def moment(side: str) -> int:
            return (
                e.groupBy(side)
                .agg(F.count("*").alias("d"))
                .agg(F.sum(F.expr("(d * (d - 1)) div 2")))
                .collect()[0][0]
            ) or 0

        center = "src" if moment("src") <= moment("dst") else "dst"
    other = "dst" if center == "src" else "src"
    a = e.select(F.col(center).alias("c"), F.col(other).alias("a"))
    b = e.select(F.col(center).alias("c"), F.col(other).alias("b"))
    co = (
        a.join(b, "c")
        .where(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count("*").alias("x"))
    )
    return co.agg(
        F.coalesce(
            F.sum(F.expr("(x * (x - 1)) div 2")), F.lit(0).cast("long")
        ).alias("n_butterflies")
    )


def bfs_distances(
    sym_edges: DataFrame,
    source: int,
    max_rounds: int = 32,
) -> tuple[DataFrame, IterationLog]:
    """Single-source BFS shortest-path distances over a symmetric edge
    table: ``v, dist`` for every vertex reachable from ``source``.

    Frontier form: round ``i`` joins only the rows discovered in round
    ``i−1`` against the edge table (the frontier), then folds candidates
    into the visited set with a min-agg — on a first reach the distance
    is already minimal (BFS level order), so the visited set only grows
    and count stability is the fixpoint.

    The frontier is vertex-sized (a slice of the visited set) while the
    edge table is edge-sized: the frontier broadcasts onto the pinned
    edge table, making each expansion shuffle-free on the edge side,
    while ``regime.fits_broadcast`` holds for the edge table (a sound
    upper bound on the vertex-sized state: the state never exceeds one
    row per edge endpoint); past the ceiling — the 10^12-url regime
    where a frontier can exceed the broadcast limit — it degrades to a
    shuffle join."""
    broadcast = fits_broadcast(sym_edges)
    pin = F.broadcast if broadcast else (lambda df: df)
    sym_edges = sym_edges.localCheckpoint(eager=False)  # one round-loop pin
    spark = sym_edges.sparkSession
    init = spark.range(1).select(
        F.lit(source).cast("long").alias("v"), F.lit(0).cast("long").alias("dist")
    )

    def step(state: DataFrame, i: int) -> DataFrame:
        # iterate() passes i = 0, 1, ...; round i expands the vertices
        # first discovered in the previous round (dist == i)
        frontier = state.where(F.col("dist") == i)
        nxt = pin(frontier).join(
            sym_edges.withColumnRenamed("src", "v"), "v"
        ).select(F.col("dst").alias("v"), (F.col("dist") + 1).alias("dist"))
        return (
            state.unionByName(nxt).groupBy("v").agg(F.min("dist").alias("dist"))
        )

    def delta(prev: DataFrame, cur: DataFrame) -> float:
        a = prev.agg(F.count("*")).collect()[0][0]
        b = cur.agg(F.count("*")).collect()[0][0]
        # the visited set only grows and first-reach distances are final:
        # equal counts ⇒ fixpoint
        return 0.0 if a == b else 1.0

    return iterate(
        init, step, delta, max_iter=max_rounds, check_every=2,
        regime="broadcast" if broadcast else "shuffle",
    )


def sssp_distances(
    weighted_edges: DataFrame,
    source: int,
    weight_col: str = "w",
    rounds: int = 8,
) -> tuple[DataFrame, IterationLog]:
    """Weighted single-source shortest paths: ``rounds`` synchronous
    Bellman–Ford relaxations over a directed weighted edge table
    ``(src, dst, w)``; returns ``v, d`` for EVERY vertex with
    ``d = 2^40`` (sentinel, kept as exact BIGINT so every relaxation is
    integer arithmetic) where no ≤``rounds``-edge path exists yet.

    Fixed-round contract: the loop deliberately does NOT early-stop, so
    an engine unrolling the same ``rounds`` relaxations (the DuckDB
    oracle) lands on identical values even on graphs whose weighted
    diameter exceeds ``rounds``. Each round is one key-partitioned join
    (state onto edge src) + one min-agg on dst + one left-join fold —
    the same shuffle keys every round, so AQE reuses the partitioning.
    The distance state is vertex-sized: while it fits the broadcast
    ceiling it broadcasts onto the pinned edge table, so the relax
    join ships no edge bytes per round; ``regime.fits_broadcast`` on
    the edge table decides that, and the shuffle join takes over in
    the 10^12-vertex regime where a |V|-row state exceeds the broadcast
    limit."""
    broadcast = fits_broadcast(weighted_edges)
    pin = F.broadcast if broadcast else (lambda df: df)
    INF = 1 << 40
    weighted_edges = weighted_edges.localCheckpoint(eager=False)
    verts = (
        weighted_edges.select(F.col("src").alias("v"))
        .unionByName(weighted_edges.select(F.col("dst").alias("v")))
        .distinct()
    )
    init = verts.select(
        "v",
        F.when(F.col("v") == source, F.lit(0))
        .otherwise(F.lit(INF))
        .cast("long")
        .alias("d"),
    )

    def step(state: DataFrame, i: int) -> DataFrame:
        relax = (
            weighted_edges.join(
                pin(state.select(F.col("v").alias("src"), F.col("d").alias("ds"))),
                "src",
            )
            .groupBy("dst")
            .agg(F.min(F.col("ds") + F.col(weight_col)).alias("md"))
            .select(F.col("dst").alias("v"), "md")
        )
        return state.join(relax, "v", "left").select(
            "v", F.least(F.col("d"), F.coalesce(F.col("md"), F.col("d"))).alias("d")
        )

    def delta(prev: DataFrame, cur: DataFrame) -> float:
        return 1.0  # fixed-round contract — never converge early

    return iterate(
        init, step, delta, max_iter=rounds, check_every=rounds,
        regime="broadcast" if broadcast else "shuffle",
    )


def k_core(
    sym_edges: DataFrame, k: int, max_rounds: int = 8
) -> tuple[DataFrame, IterationLog]:
    """The k-core of a symmetric edge table: ``v, deg_core`` for the
    vertices that survive peeling (repeatedly dropping vertices with
    degree < k), with their degree inside the core.

    ``max_rounds`` bounds the peel depth; on real graphs peeling
    converges in a handful of rounds (degeneracy cascades are short),
    and the ``iterate`` driver early-stops at the fixpoint."""

    def step(e: DataFrame, i: int) -> DataFrame:
        d = e.groupBy("src").agg(F.count("*").alias("deg"))
        keep = d.where(F.col("deg") >= k).select("src")
        return e.join(keep, "src", "left_semi").join(
            keep.select(F.col("src").alias("dst")), "dst", "left_semi"
        )

    def delta(prev: DataFrame, cur: DataFrame) -> float:
        a = prev.agg(F.count("*")).collect()[0][0]
        b = cur.agg(F.count("*")).collect()[0][0]
        # peeling only shrinks: equal counts ⇒ identical edge sets
        return 0.0 if a == b else 1.0

    state, log = iterate(
        sym_edges.select("src", "dst"),
        step,
        delta,
        max_iter=max_rounds,
        check_every=2,
    )
    core = state.groupBy(F.col("src").alias("v")).agg(
        F.count("*").alias("deg_core")
    )
    return core, log


def core_numbers(sym_edges: DataFrame, rounds: int = 8) -> DataFrame:
    """FULL core decomposition — per-vertex coreness ``v, coreness``
    (the largest k such that v survives k-core peeling), complementing
    ``k_core``'s fixed-k subgraph.

    Distributed h-index iteration (Lü, Zhou, Zhang, Stanley, Nature
    Communications 2016): h₀(v) = deg(v); h_{t+1}(v) = H-index of the
    multiset {h_t(u) : u ~ v} — the largest h with ≥ h neighbors whose
    value is ≥ h. The sequence is monotone non-increasing and its
    fixpoint is exactly the coreness; a FIXED ``rounds`` budget runs on
    both engines, so the oracle agrees bit-for-bit whether or not the
    budget reaches the fixpoint (same convergence discipline as
    ``k_core``/``k_truss``: a fixpoint is stable under extra rounds).

    Physical shape per round: the state is VERTEX-sized (one long per
    vertex) while the work table is EDGE-sized, so the state ships to
    the edges — broadcast while ``regime.fits_broadcast`` holds for the
    edge table; beyond the ceiling — the 10^12-url regime — it
    degrades to a shuffle join. The edge table is hash-partitioned on
    src ONCE up front; the broadcast join preserves that partitioning, so the
    per-vertex window (row_number over values desc — per-vertex, never
    global) and the max(min(rank, value)) agg both reuse it: a round is
    ONE stage of local sorts, no per-round edge shuffle. The H-index
    value is order-independent under ties, so the window's tie order
    cannot leak into the result. Lineage truncated per round."""
    from pyspark.sql import Window

    sym_edges = sym_edges.repartition("src").localCheckpoint(eager=True)
    h = degrees(sym_edges).select("v", F.col("deg").cast("long").alias("h"))
    w = Window.partitionBy("v").orderBy(F.desc("nh"))
    pin = F.broadcast if fits_broadcast(sym_edges) else (lambda df: df)
    for _ in range(rounds):
        nbr = sym_edges.join(
            pin(h.select(F.col("v").alias("dst"), F.col("h").alias("nh"))), "dst"
        ).select(F.col("src").alias("v"), "nh")
        h = (
            nbr.withColumn("rn", F.row_number().over(w).cast("long"))
            .select("v", F.least("rn", "nh").alias("m"))
            .groupBy("v")
            .agg(F.max("m").alias("h"))
            .localCheckpoint(eager=True)
        )
    return h.select("v", F.col("h").alias("coreness"))


def clique4_count(oriented: DataFrame) -> DataFrame:
    """Number of 4-cliques — one row ``n_4cliques``.

    Input: degree-oriented edges (operators/canonicalize.orient). The
    orientation is induced by a TOTAL vertex order (degree, id), so
    every clique's edges point consistently and each K4 matches the
    pattern u→v→w→x with closures (u,w),(u,x),(v,x) exactly once. Shape:
    the triangle wedge-join (bounded by oriented out-degree ≤ O(√E))
    extended one level — one join of triangles × edges on w, then two
    closure semi-joins against the 16-byte/row edge set (broadcast-able
    exactly like triangles_join's closure; at 100 TB the same
    shuffle-closure fallback applies)."""
    from trianglecount_spark.operators.triangles import triangles_join

    t = triangles_join(oriented)
    e_wx = oriented.select(F.col("src").alias("w"), F.col("dst").alias("x"))
    e_ux = oriented.select(F.col("src").alias("u"), F.col("dst").alias("x"))
    e_vx = oriented.select(F.col("src").alias("v"), F.col("dst").alias("x"))
    return (
        t.join(e_wx, "w")
        .join(e_ux, ["u", "x"], "left_semi")
        .join(e_vx, ["v", "x"], "left_semi")
        .agg(F.count("*").alias("n_4cliques"))
    )


def shortest_path_counts(
    sym_edges: DataFrame,
    source: int,
    rounds: int = 6,
) -> DataFrame:
    """Shortest-path COUNTING from one source — the exact-integer
    forward pass of Brandes' betweenness: ``v, dist, sigma`` where
    sigma = number of distinct shortest s→v paths. Level-synchronous:
    vertices first reached in round d are at dist d, and their sigma is
    the sum of the sigmas of their dist-(d−1) predecessors — one
    frontier join + one sum-agg per round, all BIGINT (path counts on
    simple graphs stay well under 2^63 for small diameters). Runs a
    FIXED ``rounds`` budget so a cross-engine oracle unrolls the same
    levels; vertices beyond the budget are simply absent (a bounded
    centrality neighborhood, the standard sampled-Brandes regime).

    (The backward delta-accumulation of full betweenness divides
    sigma values — order-dependent float sums — so this exact pass is
    the principled oracle-checkable unit; sampled betweenness composes
    it with a driver-side accumulation in tests if ever needed.)

    The frontier broadcasts while ``regime.fits_broadcast`` holds for
    the edge table and takes a shuffle join past it (10^12-url
    frontiers), as in ``bfs_distances``."""
    pin = F.broadcast if fits_broadcast(sym_edges) else (lambda df: df)
    # pinned once: every level joins the frontier against `sym_edges`
    sym_edges = sym_edges.localCheckpoint(eager=False)
    spark = sym_edges.sparkSession
    state = spark.range(1).select(
        F.lit(source).cast("long").alias("v"),
        F.lit(0).cast("long").alias("dist"),
        F.lit(1).cast("long").alias("sigma"),
    ).localCheckpoint(eager=True)
    for d in range(1, rounds + 1):
        frontier = state.where(F.col("dist") == d - 1)
        cand = (
            pin(frontier)  # vertex-sized; see bfs_distances
            .join(sym_edges.withColumnRenamed("src", "v"), "v")
            .select(F.col("dst").alias("v"), F.col("sigma"))
            .join(state.select(F.col("v")), "v", "left_anti")
            .groupBy("v")
            .agg(F.sum("sigma").alias("sigma"))
            .select("v", F.lit(d).cast("long").alias("dist"), "sigma")
        )
        state = state.unionByName(cand).localCheckpoint(eager=True)
    return state


def stress_centrality(
    sym_edges: DataFrame, source: int, rounds: int = 4
) -> DataFrame:
    """Stress centrality from one source — BOTH passes of Brandes'
    algorithm in their exact-integer form. Forward pass =
    ``shortest_path_counts`` (sigma = #shortest s→v paths per level).
    Backward pass: on the shortest-path DAG (edges u→w with
    dist(w) = dist(u)+1), tau(v) = Σ_{w ∈ succ(v)} (1 + tau(w)) =
    number of DAG paths STARTING at v; then sigma(v)·tau(v) is exactly
    the number of shortest paths from s that pass THROUGH v to some
    strictly-farther target — the per-source stress term
    Σ_t σ_st(v). Unlike betweenness' delta accumulation (which divides
    sigmas — order-dependent float sums), every quantity here is a
    BIGINT, so a SQL oracle reproduces it bit-for-bit.

    One level-synchronous join per round in each direction; every
    shuffle keys on the vertex id, so consecutive rounds reuse the same
    hash partitioning at scale. Output: ``v, dist, sigma, tau,
    n_paths_through`` for every vertex within the ``rounds`` budget
    (sampled-Brandes regime: at web scale run a seed set of sources and
    sum — each source is an independent job)."""
    state = shortest_path_counts(sym_edges, source, rounds)
    lv = state.select("v", "dist").localCheckpoint(eager=True)
    dag = (
        lv.withColumnRenamed("v", "u")
        .join(sym_edges.withColumnRenamed("src", "u"), "u")
        .join(
            lv.select(F.col("v").alias("dst"), F.col("dist").alias("dw")),
            "dst",
        )
        .where(F.col("dw") == F.col("dist") + 1)
        .select("u", F.col("dst").alias("w"), F.col("dist").alias("du"))
        .localCheckpoint(eager=True)
    )
    tau = lv.where(F.col("dist") == rounds).select(
        "v", F.lit(0).cast("long").alias("tau")
    )
    for d in range(rounds - 1, -1, -1):
        succ = (
            dag.where(F.col("du") == d)
            .join(tau.withColumnRenamed("v", "w"), "w")
            .groupBy("u")
            .agg(F.sum(F.lit(1) + F.col("tau")).alias("tau"))
            .select(F.col("u").alias("v"), F.col("tau").cast("long").alias("tau"))
        )
        level = (
            lv.where(F.col("dist") == d)
            .join(succ, "v", "left")
            .select("v", F.coalesce(F.col("tau"), F.lit(0)).cast("long").alias("tau"))
        )
        tau = tau.unionByName(level).localCheckpoint(eager=True)
    return state.join(tau, "v").select(
        "v",
        "dist",
        "sigma",
        "tau",
        (F.col("sigma") * F.col("tau")).cast("long").alias("n_paths_through"),
    )


def link_prediction_ra(
    sym_edges: DataFrame,
    min_common: int = 2,
    max_center_degree: int | None = None,
    kernel_parts: int | None = None,
) -> DataFrame:
    """Resource-allocation link prediction: non-adjacent pairs ``u < w``
    scored by RA(u,w) = Σ_{v ∈ CN(u,w)} 1/deg(v) — the Zhou-Lü-Zhang
    index, empirically the strongest of the local similarity indices on
    power-law graphs (it damps hub intermediaries harder than
    Adamic-Adar's 1/log deg). Computed in exact MILLIONTHS via integer
    division (1000000 div deg(v), then a BIGINT sum) so the score is
    aggregation-order-independent and reproduces bit-for-bit in any
    engine — no float summation anywhere.

    Same engine as ``link_prediction_jaccard``: the shared
    ``_pair_counts`` pass computes ``common`` and ``ra_millionths``
    together (each wedge row's millionths weight is a function of its
    CENTER's degree, so the kernel reads it straight off the broadcast
    CSR and the shuffle form joins it before the fan-out), then one
    anti-join against the edge set on the ≥min_common survivors. The
    wedge stream is Σ C(d,2) regardless of ``min_common``; the
    ``max_center_degree`` cap bounds it at C(τ,2) per center — exact
    when None. Regime choice and measured costs: ``_pair_counts``."""
    sym_edges = sym_edges.localCheckpoint(eager=True)  # see jaccard note
    deg = degrees(sym_edges)
    cn = _pair_counts(
        sym_edges,
        deg,
        min_common,
        max_center_degree,
        kernel_parts=kernel_parts,
    )
    existing = sym_edges.where(F.col("src") < F.col("dst")).select(
        F.col("src").alias("u"), F.col("dst").alias("w")
    )
    return cn.join(existing, ["u", "w"], "left_anti").select(
        "u", "w", F.col("common").cast("long").alias("common"), "ra_millionths"
    )


def katz_centrality(
    sym_edges: DataFrame, beta_inv: int = 4, rounds: int = 3
) -> DataFrame:
    """Truncated Katz centrality in EXACT integer millionths:
    katz_m(v) = Σ_{i=1..rounds} walks_i(v) · (1000000 div beta_inv^i),
    where walks_i = A·walks_{i-1} (exact BIGINT walk counts, walks_0 =
    1). Each power iteration is one join + one sum-agg keyed on the
    vertex id — the same shuffle key every round, so the partitioning
    is reused at scale. Truncation is the deterministic contract (full
    Katz needs the spectral radius); per-level coefficients are integer
    divisions, so the score is aggregation-order-proof cross-engine."""
    r = sym_edges.groupBy(F.col("dst").alias("v")).agg(
        F.count("*").cast("long").alias("wk")
    )
    katz = r.select("v", (F.col("wk") * F.lit(1000000 // beta_inv)).alias("m"))
    cur = r
    for i in range(2, rounds + 1):
        cur = (
            cur.join(sym_edges.withColumnRenamed("src", "v"), "v")
            .groupBy(F.col("dst").alias("v2"))
            .agg(F.sum("wk").cast("long").alias("wk"))
            .withColumnRenamed("v2", "v")
        )
        katz = katz.unionByName(
            cur.select("v", (F.col("wk") * F.lit(1000000 // beta_inv**i)).alias("m"))
        )
    return katz.groupBy("v").agg(F.sum("m").cast("long").alias("katz_millionths"))


def densest_subgraph(sym_edges: DataFrame, rounds: int = 8) -> DataFrame:
    """Densest-subgraph 2-approximation (Charikar greedy peeling in its
    parallel form, Bahmani et al. VLDB'12): per round, drop every
    vertex whose degree is ≤ the current average (deg·N ≤ dirE — an
    EXACT integer test, no float average), snapshot (round, N, dirE),
    and return the single best snapshot by density in integer
    MILLIONTHS (10⁶·dirE div (2N); ties to the earlier round). The
    peel rule guarantees the best snapshot is within 2× of the true
    maximum-density subgraph.

    One degree agg + one semi-join per round, all keyed on vertex id;
    the two scalars each round (N, dirE) are the only driver traffic.
    Output: ``round, n_vertices, n_edges, density_millionths``."""
    cur = sym_edges.select("src", "dst").localCheckpoint(eager=True)
    snaps = []
    for r in range(rounds + 1):
        dir_e = cur.count()
        n = cur.select("src").distinct().count()
        if n == 0:
            break
        snaps.append((r, n, dir_e // 2, (1000000 * dir_e) // (2 * n)))
        if r == rounds:
            break
        deg = cur.groupBy(F.col("dst").alias("v")).agg(F.count("*").alias("deg"))
        keep = deg.where(F.col("deg") * n > dir_e).select("v")
        cur = (
            cur.join(keep.withColumnRenamed("v", "src"), "src", "left_semi")
            .join(keep.withColumnRenamed("v", "dst"), "dst", "left_semi")
            .select("src", "dst")
            .localCheckpoint(eager=True)
        )
    best = max(snaps, key=lambda s: (s[3], -s[0]))
    spark = sym_edges.sparkSession
    return spark.createDataFrame(
        [best],
        "round long, n_vertices long, n_edges long, density_millionths long",
    )
