"""Triangle counting (SURVEY.md §2.4, T1–T7).

Two physical strategies over the same logical op, both consuming the
degree-oriented edge table from ``canonicalize.orient`` (every undirected
edge kept in exactly one direction; every triangle {a,b,c} with
a ≺ b ≺ c under (deg asc, id desc) appears as the three directed edges
a→b, a→c, b→c, so it is found exactly once at its anchor a):

1. ``triangle_count_join`` — pure DataFrame: wedge join e1(u,v)⋈e2(v,w)
   then LEFT SEMI against e(u,w). Catalyst picks sort-merge /
   shuffled-hash / broadcast per side; AQE splits skewed partitions.
   This is the declarative form we'd run at 100 TB by default.

2. ``triangle_count_kernel`` — reference-faithful partitioned form
   (the Spark analog of the CUDA pipeline in
   src/WithPartition/Final_updated_corrected.cu:57-219 +
   round_clean_subgraph.cu): anchors are hash-partitioned (the
   reference's `random` node-parts, Halo_creation_preprocess.py:288);
   each Spark partition receives its anchors' out-edges PLUS the halo
   adjacency lists of their out-neighbors (P4 halo expansion — here a
   single shuffle ships halo rows; nothing is materialized per part),
   builds a local CSR with np.cumsum (T7) and sorted rows (C6), and
   probes wedges with np.searchsorted (T1/T2). Only master anchors
   count (T3: launch <<<t_ver,...>>> — here an is_anchor flag). Hub
   anchors beyond ``salt_threshold`` out-degree are *salted*: their
   wedge seeds split over ``n_salts`` buckets, the hub's own adjacency
   replicated per bucket, partial counts summed (the Spark analog of
   the reference's shared-memory tiling loop for deg+ > 128,
   ShareKernelTCV62_update_v1.cu:100-173).

The arrays form (``triangles_per_vertex_arrays`` / ``triangle_count_arrays``)
carries the reference's regime rule inside it: a graph that fits one
worker is not partitioned at all. When ``regime.resident_graph(oriented)``
hands over the oriented edges' graph (collected once, or built from the
raw edges by canonicalize.py), it is counted in a driver-resident numpy CSR with the kernel's own chunked
intersection loop, spread over threads — the whole CSR on one device.
Past the ceiling the distributed arrays plan runs.

Per-vertex output attributes each triangle to its anchor (minimum
corner), matching the reference's per-vertex g_sum
(ShareKernelTCV62_update_v1.cu:185).
"""

from __future__ import annotations

import os
from concurrent.futures import ThreadPoolExecutor

import numpy as np
import pandas as pd
from pyspark import SparkContext
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import IntegralType

from trianglecount_spark.operators.iterative import ResidentGraph, local_frame
from trianglecount_spark.operators.regime import fits_broadcast, resident_graph

# ---------------------------------------------------------------------------
# Strategy 1: declarative join form
# ---------------------------------------------------------------------------

def triangles_join(oriented: DataFrame) -> DataFrame:
    """All triangles as (u, v, w) rows, u ≺ v ≺ w in oriented order.

    Wedge join on v, then closure semi-join of (u, w) against the edge
    set. The orientation bounds wedge fan-out by the oriented out-degree
    (≤ O(√E) amortized), which is what makes the wedge join feasible on
    power-law graphs at all.

    The closure probe broadcasts its edge side iff
    ``regime.fits_broadcast(oriented)``: a broadcast-hash semi-join
    filters the wedge stream in place, never shuffling it. The dominant
    cost of the declarative form is otherwise the exchange of
    |wedges| ≫ |E| rows; broadcasting the *edge* side (16 bytes/row)
    eliminates it — the physical analog of the reference keeping the
    full CSR resident on-device and probing it per wedge
    (ShareKernelTCV62_update_v1.cu:100-173). Past the ceiling (the
    100 TB regime) the semi-join shuffles; AQE handles skew splitting.
    """
    e1 = oriented.select(F.col("src").alias("u"), F.col("dst").alias("v"))
    e2 = oriented.select(F.col("src").alias("v"), F.col("dst").alias("w"))
    e3 = oriented.select(F.col("src").alias("u"), F.col("dst").alias("w"))
    if fits_broadcast(oriented):
        e3 = F.broadcast(e3)
    wedges = e1.join(e2, "v")
    return wedges.join(e3, ["u", "w"], "left_semi").select("u", "v", "w")


def triangles_per_vertex_join(oriented: DataFrame) -> DataFrame:
    """Per-vertex triangle counts, anchor attribution: ``v, tri``.

    Only the anchor (minimum corner) is credited — reference g_sum
    semantics. Vertices anchoring no triangle are absent (join with the
    vertex table and coalesce(0) if a dense vector is wanted).
    """
    return (
        triangles_join(oriented)
        .groupBy(F.col("u").alias("v"))
        .agg(F.count("*").alias("tri"))
    )


def triangle_count_join(oriented: DataFrame) -> int:
    """Global triangle total (T5/T6: one agg(sum) — partial aggregation
    and cross-partition accumulation are automatic)."""
    row = triangles_join(oriented).agg(F.count("*").alias("t")).collect()[0]
    return int(row["t"])


# ---------------------------------------------------------------------------
# Strategy 1b: per-edge sorted-adjacency intersection (JVM arrays)
# ---------------------------------------------------------------------------

def _per_vertex_arrays_plan(oriented: DataFrame) -> DataFrame:
    adj = oriented.groupBy("src").agg(F.sort_array(F.collect_list("dst")).alias("nbrs"))
    a_u = adj.select(F.col("src").alias("u"), F.col("nbrs").alias("nu"))
    a_v = adj.select(F.col("src").alias("v"), F.col("nbrs").alias("nv"))
    per_edge = (
        oriented.select(F.col("src").alias("u"), F.col("dst").alias("v"))
        .join(a_u, "u")
        .join(a_v, "v")
        .select("u", F.size(F.array_intersect("nu", "nv")).alias("c"))
    )
    return (
        per_edge.groupBy(F.col("u").alias("v"))
        .agg(F.sum("c").alias("tri"))
        .where(F.col("tri") > 0)
    )


def _resident_counts(g: ResidentGraph, sc: SparkContext) -> np.ndarray:
    """The resident regime: each vertex's anchored triangle count, in
    the order of ``g.vertices``.

    The oriented edges, sorted by (src, dst) position, are a CSR: the
    ``dst`` column is the flat adjacency and ``np.bincount`` of ``src``
    its row lengths (T7/C6). Every edge (u, v) seeds the wedges
    (u, v, w), w ∈ N+(v); a wedge closes iff (u, w) is an edge, probed
    as the key ``(u<<32)|w`` against the sorted edge keys (T1) —
    positions are below 2^31 under the broadcast ceiling."""
    keys = np.sort((g.src << 32) | g.dst)
    src = (keys >> 32).astype(np.int32)
    dst = (keys & 0xFFFFFFFF).astype(np.int32)
    deg = np.bincount(src, minlength=g.n)
    starts = np.cumsum(deg) - deg
    threads = min(sc.defaultParallelism, os.cpu_count() or 1)
    return _count_closures(src, starts[dst], deg[dst], dst, keys, g.n, threads)


def triangles_per_vertex_arrays(oriented: DataFrame) -> DataFrame:
    """Per-vertex counts via per-edge adjacency intersection: ``v, tri``.

    The closest declarative analog of the reference kernel (C6 sorted
    adjacency + T1 membership probes): build N+(u) once as a sorted
    array, then for every oriented edge (u, v) count
    |N+(u) ∩ N+(v)| with JVM ``array_intersect`` — each triangle found
    exactly once at its anchor u (w ∈ N+(u) ∩ N+(v) ⟺ u→v, u→w, v→w).

    vs the wedge join: no 49M-row wedge materialization — one groupBy
    (adjacency build) + two joins whose payload is one array per row.
    Work is Σ_(u,v)∈E (d⁺(u)+d⁺(v)) hash-set operations, the same
    asymptotics as the reference's probe loop.

    A graph under the broadcast ceiling (``regime.resident_graph``)
    runs resident instead (``_resident_counts``); its rows are a local
    relation with the distributed plan's schema, taken from analysis —
    no job — and, as there, only vertices with ``tri > 0``.
    """
    plan = _per_vertex_arrays_plan(oriented)
    g = resident_graph(oriented)
    if g is None:
        return plan
    counts = _resident_counts(g, oriented.sparkSession.sparkContext)
    nz = counts > 0
    return local_frame(oriented.sparkSession, plan.schema, [g.vertices[nz], counts[nz]])


def triangle_count_arrays(oriented: DataFrame) -> int:
    g = resident_graph(oriented)
    if g is not None:
        return int(_resident_counts(g, oriented.sparkSession.sparkContext).sum())
    row = (
        _per_vertex_arrays_plan(oriented)
        .agg(F.coalesce(F.sum("tri"), F.lit(0)).alias("t"))
        .collect()[0]
    )
    return int(row["t"])


# ---------------------------------------------------------------------------
# Strategy 2: partitioned CSR kernel form (applyInArrow)
# ---------------------------------------------------------------------------

_KERNEL_OUT_SCHEMA = "v long, tri long"

_EMPTY = pd.DataFrame({"v": pd.Series([], dtype="int64"), "tri": pd.Series([], dtype="int64")})

# row kinds in the kernel shuffle
_K_HALO = 0  # adjacency operand: (v, full sorted N+(v))
_K_SEED = 1  # anchor: full sorted N+(u); in a salt-bucket group the
#              kernel expands only the bucket's slice (dst % n_salts == b)
#              but probes against the full array

# wedges in flight per _count_closures call (one kernel pass; split over
# the threads of a resident count) — caps the int64 probe-key / gather
# temporaries (~20 B/wedge) so peak kernel memory stays ~tens of MB per
# worker regardless of group size (500k vs 2M measured within noise at
# local[8]/8M edges — the cap is a memory-footprint bound, not a
# throughput tunable; four resident threads on 1M-wedge chunks each were
# measured 1.4x slower than on 250k, from the larger working set)
_WEDGE_CHUNK = 1_000_000


def _gather_segments(starts: np.ndarray, lens: np.ndarray, flat: np.ndarray) -> np.ndarray:
    """Vectorized gather of variable-length segments flat[starts[i] :
    starts[i]+lens[i]] concatenated in row order (the arange trick — no
    per-row Python)."""
    total = int(lens.sum())
    if total == 0:
        return np.empty(0, dtype=flat.dtype)
    offs = np.concatenate([[0], np.cumsum(lens)[:-1]])
    # one repeat, not two: idx = arange + repeat(starts - offs) — each
    # wedge-length temporary is a full memory-bandwidth pass
    idx = np.arange(total, dtype=np.int64)
    idx += np.repeat(starts - offs, lens)
    return flat[idx]


def _count_closures(
    anchor: np.ndarray,
    wstarts: np.ndarray,
    wlens: np.ndarray,
    flat: np.ndarray,
    target_keys: np.ndarray,
    n_anchors: int,
    threads: int = 1,
) -> np.ndarray:
    """Closed wedges per anchor: the chunked expand → probe → bincount
    loop shared by the kernel and the resident regime.

    Seed row i (anchor index ``anchor[i]`` < ``n_anchors``) expands to
    the wedges w ∈ ``flat[wstarts[i] : wstarts[i] + wlens[i]]`` (T2);
    a wedge closes iff ``(anchor << 32) | w`` is in the sorted
    ``target_keys`` (T1); closures sum per anchor by bincount (T4).
    Rows are cut into chunks of about ``_WEDGE_CHUNK / threads``
    wedges, so the wedge-scale temporaries in flight stay bounded by
    ``_WEDGE_CHUNK`` regardless of graph size or thread count. With
    ``threads`` > 1 the chunks run on a thread pool (numpy releases the
    GIL in these passes); the sums are added in order on the calling
    thread."""
    counts = np.zeros(n_anchors, dtype=np.int64)
    cum = np.cumsum(wlens)
    total_w = int(cum[-1]) if len(cum) else 0
    if total_w == 0:
        return counts
    step = max(_WEDGE_CHUNK // threads, 1)
    cuts = np.searchsorted(cum, np.arange(1, -(-total_w // step)) * step) + 1
    bounds = np.unique(np.concatenate([[0], np.minimum(cuts, len(wlens)), [len(wlens)]]))
    anchor_keys = anchor.astype(np.int64) << 32
    # a sentinel above every key: each probe lands on a valid slot
    targets = np.append(target_keys, np.iinfo(np.int64).max)

    def chunk(lo: int, hi: int) -> tuple[int, np.ndarray]:
        probe_keys = np.repeat(anchor_keys[lo:hi], wlens[lo:hi])
        probe_keys |= _gather_segments(wstarts[lo:hi], wlens[lo:hi], flat)
        hit_pos = np.searchsorted(targets, probe_keys)
        hits = probe_keys[targets[hit_pos] == probe_keys] >> 32
        if not len(hits):
            return 0, hits
        base = int(hits.min())
        return base, np.bincount(hits - base)

    def accumulate(mapper) -> None:
        # parts are added as they arrive, so at most a few are held
        for base, part in mapper(chunk, bounds[:-1], bounds[1:]):
            counts[base:base + len(part)] += part

    if threads > 1 and len(bounds) > 2:
        with ThreadPoolExecutor(threads) as pool:
            accumulate(pool.map)
    else:
        accumulate(map)
    return counts


def _count_partition_arrow(table, n_salts: int):
    """Count wedge closures for the anchor seeds of one group.

    Arrow-native kernel: the group's (v, part, seeds:list<long>, kind)
    rows arrive as a pyarrow Table; ``list_flatten`` /
    ``list_value_length`` expose the packed adjacency as ONE flat int64
    buffer + per-row lengths (zero-copy — the r1 applyInPandas form
    unpacked the list column into per-row numpy objects, which dominated
    its runtime). Everything below is whole-array numpy:

      - halo rows carry the full sorted adjacency N+(v) of every vertex
        the group's seeds point at; lookup structure = argsort of halo
        vertex ids — segments stay in place, only row indices are
        sorted (T7/C6).
      - seed rows carry each anchor's FULL sorted N+(u) (salted and
        unsalted alike — the plan side ships one adjacency row per
        (anchor, group), never a pre-sliced copy). The group's part id
        encodes its salt bucket: b = part % (n_salts+1) - 1; bucket
        groups (b ≥ 0) expand only the seeds with dst % n_salts == b —
        the same arithmetic the plan side used to route their halo
        rows — but probe against the full array.
      - wedge expansion (T2): seeds (u, v) → all w ∈ N+(v) via
        searchsorted + segment gather.
      - closure probe (T1): packed (u, w) int64 keys binary-searched
        against the anchor target set — all (anchor, neighbor) seed
        pairs of the group. Ids ≥ 2³¹ take a dense LOCAL relabel
        (np.unique universe) — the kernel has no global-id ceiling (a
        10^12-vertex web graph overflows the r1 raw packing).
      - per-anchor partial sums (T4) leave as (v, tri) rows.

    Bandwidth discipline (the kernel is memory-bound, not FLOP-bound —
    every wedge-scale temporary is a full pass over RAM, and N
    concurrent workers share one socket's bandwidth):
      - ids are computed in a compact int32 space (direct downcast when
        max id < 2³¹, dense relabel otherwise) — halves the bytes of
        every gather/repeat pass; only the packed probe keys are int64.
      - wedge expansion runs in bounded chunks (≤ ``_WEDGE_CHUNK``
        wedges per pass) with per-anchor counts accumulated by bincount
        — peak temporary footprint is independent of group size.
    """
    import pyarrow as pa  # noqa: PLC0415
    import pyarrow.compute as pc  # noqa: PLC0415

    empty = pa.table(
        {"v": pa.array([], pa.int64()), "tri": pa.array([], pa.int64())}
    )
    tab = table.combine_chunks()
    v = tab.column("v").to_numpy()
    kind = tab.column("kind").to_numpy()
    seeds = tab.column("seeds")
    lens = pc.list_value_length(seeds).to_numpy().astype(np.int64)
    flat = pc.list_flatten(seeds).to_numpy()
    starts = np.concatenate([[0], np.cumsum(lens)[:-1]])

    halo_rows = np.flatnonzero(kind == _K_HALO)
    seed_rows = np.flatnonzero(kind != _K_HALO)
    if not len(halo_rows) or not len(seed_rows):
        # no middle adjacency, or no seeds → no wedge can close
        return empty
    # the group's salt bucket, encoded in its part id (constant per group)
    b = int(tab.column("part")[0].as_py()) % (n_salts + 1) - 1

    # compact int32 id space: direct downcast when ids fit 2³¹, dense
    # LOCAL relabel otherwise (group-local universes are < 2³¹ — the
    # kernel has NO global-id ceiling; a 10^12-vertex web graph would
    # overflow raw packing). Every wedge-scale pass below then moves
    # half the bytes.
    hi_id = max(int(v.max(initial=0)), int(flat.max(initial=0)) if len(flat) else 0)
    if hi_id < (1 << 31):
        uni = None
        v32 = v.astype(np.int32)
        flat32 = flat.astype(np.int32)
    else:
        uni = np.unique(np.concatenate([v, flat]))
        v32 = np.searchsorted(uni, v).astype(np.int32)
        flat32 = np.searchsorted(uni, flat).astype(np.int32)

    # halo lookup: sorted vertex ids → original row index (segments are
    # never moved; T7 offsets are the Arrow list offsets themselves)
    vs_h = v32[halo_rows]
    order_h = np.argsort(vs_h, kind="stable")
    svs = vs_h[order_h]
    h_rows_sorted = halo_rows[order_h]

    # seed expansion: per-element (u, v) pairs from the packed seeds;
    # anchors are numbered by their index in the group's sorted anchor
    # ids, which is the space the probe keys and per-anchor sums use
    anchor_ids, su_idx = np.unique(v32[seed_rows], return_inverse=True)
    s_lens = lens[seed_rows]
    sv_flat = _gather_segments(starts[seed_rows], s_lens, flat32)
    if not len(sv_flat):
        return empty
    su_rep = np.repeat(su_idx.astype(np.int32), s_lens)

    # anchor target set T(u) = ALL (anchor, neighbor) seed pairs — the
    # seed rows carry full N+(u) in every group kind, so this is exact
    # for salted hubs too. Built ONCE per group (edge-scale).
    target_keys = np.sort((su_rep.astype(np.int64) << 32) | sv_flat)

    # bucket groups expand only their slice of the hub seeds; the mod
    # runs on ORIGINAL ids (matching the plan-side pmod(dst, n_salts)
    # halo routing), so it must precede any dense relabel
    if b >= 0:
        keep = _gather_segments(
            starts[seed_rows], s_lens, (flat % n_salts) == b
        )
        su_rep = su_rep[keep]
        sv_flat = sv_flat[keep]
        if not len(sv_flat):
            return empty

    # wedge fan-out sizes (T2): each (u, v) reaches all w ∈ N+(v)
    vpos = np.searchsorted(svs, sv_flat)
    vpos_c = np.minimum(vpos, len(svs) - 1)
    has_adj = svs[vpos_c] == sv_flat
    hrow = h_rows_sorted[vpos_c]
    wlens = np.where(has_adj, lens[hrow], 0)
    wstarts = starts[hrow]

    # chunked wedge expansion + closure probe (T1) + per-anchor partial
    # sums (T4): bounded temporary footprint regardless of group size
    counts = _count_closures(su_rep, wstarts, wlens, flat32, target_keys, len(anchor_ids))
    nz = counts > 0
    out_ids = anchor_ids[nz]
    out_v = uni[out_ids] if uni is not None else out_ids.astype(np.int64)
    return pa.table(
        {"v": pa.array(out_v, pa.int64()), "tri": pa.array(counts[nz], pa.int64())}
    )


def triangles_per_vertex_kernel(
    oriented: DataFrame,
    n_parts: int | None = None,
    salt_threshold: int = 4096,
    n_salts: int = 16,
    parts: DataFrame | None = None,
) -> DataFrame:
    """Per-vertex triangle counts via the partitioned CSR kernel: ``v, tri``.

    Pipeline (one adjacency-array build + one applyInArrow shuffle):
      1. part(u) = pmod(xxhash64(u), k)  — deterministic hash partitioning
         (the reference's `random` node-parts file, P1).
      2. routing assignments (v, part, kind) are derived from the RAW
         edge table + a broadcast hub set — cheap map-side-combined
         distincts over (id, part) pairs. The adjacency-array aggregation
         (C6 + the CSR payload) is then referenced by exactly ONE join,
         so it executes once; the r2 form referenced it from six
         consumers and Catalyst executed the collect_list agg six times
         (no exchange reuse across the grouped-Arrow boundary — measured
         ~40% of all task time at local[8]).
      3. halo rows: the adjacency array of every seed target, shipped to
         every group whose seeds point at it (P4 halo expansion as a
         join — duplicated per referencing group, exactly the reference's
         halo materialization, but transient in the shuffle; distinct =
         P5 halo dedupe). Every movement ships one Arrow-packed row per
         (vertex, group), never per edge (a flat per-edge shuffle was
         measured 5× more expensive).
      4. per-group Arrow-native numpy kernel (_count_partition_arrow).
         The kernel exchange is AQE-coalesced BY SIZE — for wave-granular
         scheduling at high parallelism, size the session's
         ``spark.sql.adaptive.advisoryPartitionSizeInBytes`` so the
         coalesced task count stays ≥ ~4× the core count (an explicit
         repartition(n_parts, part) was measured WORSE: 64 hash bins for
         64 structured group ids collide balls-in-bins — max/mean task
         skew 4.8 — and 64 grouped-Arrow tasks pay ~2× the per-task
         Arrow hand-off overhead of 14 size-balanced ones).

    Hub salting: anchors with out-degree > ``salt_threshold`` would make
    one group's probe work quadratic in the hub degree. Their wedge seeds
    (u, v) are split into ``n_salts`` buckets by dst % n_salts; each
    bucket group receives the hub's full adjacency ONCE (it doubles as
    the intersection target) plus only its own slice's halo lists, and
    the kernel expands just the bucket's seeds; partial counts merge in
    the final agg.

    ``parts``: optional external anchor assignment ``(v, part)`` (P3 —
    the reference's METIS node-parts file,
    Halo_creation_preprocess.py:304-341; produce one in-engine with
    ``plans.partitioning.multilevel_partition``). Replaces the hash
    rule for SEED placement only — a locality-aware assignment puts
    adjacent anchors in the same group, so fewer distinct (halo
    vertex, group) pairs survive the dedupe and the halo shuffle (the
    job's dominant bytes) shrinks with the edge cut. Vertices absent
    from ``parts`` fall back to the hash rule; the count is invariant
    to ANY assignment (asserted by the oracle-gated query).

    Vertex ids must be integral (the kernel packs them into int64 probe
    keys); other id types raise ``TypeError``.
    """
    for f in oriented.select("src", "dst").schema:
        if not isinstance(f.dataType, IntegralType):
            raise TypeError(
                f"triangles_per_vertex_kernel needs integral vertex ids, got "
                f"{f.name} {f.dataType.simpleString()}; use triangles_per_vertex_join"
            )
    if n_parts is None:
        n_parts = oriented.sparkSession.sparkContext.defaultParallelism

    # compact id width for the shuffled payload: when every id fits
    # int32, ship 4-byte ids — the halo/seed array shuffle and the Arrow
    # hand-off to the kernel are the job's dominant bytes, and halving
    # them is a straight bandwidth win at every parallelism level. One
    # cheap agg on the (cached) oriented input decides; > 2³¹ ids keep
    # bigint and the kernel's dense local relabel handles them.
    hi = oriented.agg(
        F.greatest(F.max("src"), F.max("dst")).alias("hi")
    ).collect()[0]["hi"]
    if hi is not None and hi < (1 << 31):
        oriented = oriented.select(
            F.col("src").cast("int").alias("src"), F.col("dst").cast("int").alias("dst")
        )

    # hub set (out-degree > threshold) — a count-only agg with map-side
    # partials, broadcast to annotate edges; orientation caps out-degree
    # near sqrt(2E) so this is small by construction
    deg = oriented.groupBy("src").agg(F.count("*").alias("deg_out"))
    hubs = deg.where(F.col("deg_out") > F.lit(salt_threshold)).select(
        F.col("src").alias("hub")
    )
    hash_part = F.pmod(F.xxhash64("src"), F.lit(n_parts))
    ep_in = oriented
    if parts is not None:
        # P3 external assignment: one vertex-sized join on the anchor
        # (routing only — the adjacency build below stays on the bare
        # edge table); unassigned anchors fall back to the hash rule.
        # The cast keeps the join key type stable under the int32
        # compaction above; max_by dedupes a sloppy assignment.
        ep_in = oriented.join(
            parts.groupBy(F.col("v").cast("long").alias("_pv")).agg(
                F.max(F.col("part").cast("long")).alias("_pp")
            ),
            F.col("src").cast("long") == F.col("_pv"),
            "left",
        ).drop("_pv")
        base_part = F.coalesce(F.col("_pp"), hash_part) * (n_salts + 1)
    else:
        base_part = hash_part * (n_salts + 1)
    ep = (
        ep_in.join(F.broadcast(hubs), F.col("src") == F.col("hub"), "left")
        .select(
            "src",
            "dst",
            F.when(
                F.col("hub").isNotNull(),
                base_part + 1 + F.pmod(F.col("dst").cast("long"), F.lit(n_salts)),
            )
            .otherwise(base_part)
            .alias("part"),
        )
    )

    # routing assignments, all map-side-combined distincts on (id, part):
    #   anchors — one row per (anchor, group with ≥1 of its seeds);
    #   halos   — one row per (seed target, demanding group)  (P4 + P5)
    anchors = ep.select(F.col("src").alias("v"), "part").distinct().select(
        "v", "part", F.lit(_K_SEED).alias("kind")
    )
    halos = ep.select(F.col("dst").alias("v"), "part").distinct().select(
        "v", "part", F.lit(_K_HALO).alias("kind")
    )

    # THE adjacency build (C6 sort + CSR payload), executed exactly once:
    # one groupBy packs each vertex's sorted adjacency into an array;
    # one join routes a copy of it to every (group, kind) that needs it
    adj = oriented.groupBy("src").agg(
        F.sort_array(F.collect_list("dst")).alias("seeds")
    )
    rows = anchors.unionByName(halos).join(
        adj.withColumnRenamed("src", "v"), "v"
    )

    per_group = rows.groupBy("part").applyInArrow(
        lambda tab: _count_partition_arrow(tab, n_salts),
        schema=_KERNEL_OUT_SCHEMA,
    )
    # merge salted partials
    return per_group.groupBy("v").agg(F.sum("tri").alias("tri"))


def triangle_count_kernel(
    oriented: DataFrame,
    n_parts: int | None = None,
    salt_threshold: int = 4096,
    n_salts: int = 16,
    parts: DataFrame | None = None,
) -> int:
    df = triangles_per_vertex_kernel(
        oriented, n_parts, salt_threshold, n_salts, parts=parts
    )
    row = df.agg(F.sum("tri").alias("t")).collect()[0]
    return int(row["t"] or 0)


def weighted_triangle_total(raw_pairs: DataFrame) -> DataFrame:
    """WEIGHTED triangle count over a raw pair table with repeats:
    weight(edge) = multiplicity, each triangle contributes
    min(w_uv, w_vw, w_uw) — bottleneck cohesion. One-row result
    ``n_triangles, weight_total`` (both BIGINT).

    Same plan as the unweighted join form (orientation prunes the wedge
    stream to Σ deg+²); the only addition is the exact-integer weight
    carried on each oriented edge and a LEAST folded at the closure
    match — no extra shuffle. The closure side follows
    ``triangles_join``'s rule (broadcast the 24-byte/row
    weighted edge side while it fits, so the wedge stream is never
    exchanged; shuffle past the ceiling). Reference parity: the reference's
    edge_weight.cu is weight-free despite its name (SURVEY §2.4); this
    is the [EXT] weighted semantics a co-occurrence graph wants."""
    from trianglecount_spark.operators.canonicalize import orient

    e = raw_pairs.where(F.col("src") != F.col("dst"))
    wsym = (
        e.select("src", "dst")
        .unionByName(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .groupBy("src", "dst")
        .agg(F.count("*").cast("long").alias("wt"))
    )
    wor = orient(wsym.select("src", "dst")).join(wsym, ["src", "dst"])
    e1 = wor.select(
        F.col("src").alias("u"), F.col("dst").alias("v"), F.col("wt").alias("w1")
    )
    e2 = wor.select(
        F.col("src").alias("v"), F.col("dst").alias("w"), F.col("wt").alias("w2")
    )
    e3 = wor.select(
        F.col("src").alias("u"), F.col("dst").alias("w"), F.col("wt").alias("w3")
    )
    if fits_broadcast(wor):
        e3 = F.broadcast(e3)
    tri = e1.join(e2, "v").join(e3, ["u", "w"])
    return tri.agg(
        F.count("*").cast("long").alias("n_triangles"),
        F.sum(F.least("w1", "w2", "w3")).cast("long").alias("weight_total"),
    )
