"""Graph canonicalization operators (SURVEY.md §2.2, C1–C5).

Reference semantics (KishantLab/TriangleCount):
- self-loops removed            (Med_dataset/without_part_preprocess.py:193)
- symmetrized + de-duplicated   (dgl.to_bidirected, ibid.:201)
- per-vertex undirected degree  (Halo_creation_preprocess.py:244)
- degree orientation: keep u→v iff deg(u) < deg(v), or deg(u) == deg(v)
  and v < u — ties point at the SMALLER id
  (without_part_preprocess.py:37-51, round_clean_subgraph.cu:180-202,
  subgraph_preprocess.py:176-196; degrees are always GLOBAL undirected
  degrees, tie-breaks use global ids).

The plan is the contract. Each of ``canonicalize_edges``,
``canonicalize_edges_packed`` and ``orient`` returns a lazy DataFrame
plan, so Catalyst handles pushdown, partial aggregation and join
strategy; at 100 TB the degree table is V rows (billions) — it
shuffles; never assume it broadcasts.

The attached graph is a driver-side evaluation of that plan. Each
function also attaches a memoized builder of the ``ResidentGraph`` of
its rows to the frame it returns (``regime.attach_graph``). The
first resident consumer (``regime.resident_graph``) builds it when the
symmetric table fits the ceilings — twice the raw input's size
estimate under the byte ceiling, twice its collected rows under the
row ceiling (``regime.collect_if_fits``): one collect of the raw
edges, the symmetrize + dedupe as one ``np.unique`` and the degrees as
one ``np.bincount`` — the reference's preprocessing on the device that
then holds the CSR (``remove_self_loop``, ``to_bidirected``, the
count-then-fill orientation kernel). ``orient``'s builder starts from
the graph of its input (``regime.source_graph``). A fitting job so
collects its raw edges once and runs no canonicalize or orient
shuffle. A builder never runs a ``count()``: past the ceilings, or
with an estimate it cannot trust (none, or one through a Python row
generator), it declines without a job and the frame's own probe
decides, as without it. A distributed consumer
(``regime.fits_broadcast``) never builds the graph and runs the plan.
No function here launches a job when called.
"""

from __future__ import annotations

import numpy as np
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DataType, IntegralType, StringType

from trianglecount_spark.operators import regime
from trianglecount_spark.operators.iterative import ResidentGraph

# exclusive upper bound on ids the packed form accepts: two 31-bit ids
# pack into one non-negative int64 (src << 32) | dst
_PACK_LIMIT = 1 << 31


def _numpy_orders(*types: DataType) -> bool:
    """True iff ids of these column types compare, sort and dedupe in
    numpy exactly as in Spark: all integral, or all binary-collated
    strings (code-point order is UTF-8 byte order)."""
    return all(isinstance(t, IntegralType) for t in types) or all(
        isinstance(t, StringType) and t.collation == "UTF8_BINARY" for t in types
    )


def _canonical_graph(pairs: DataFrame, packed: bool) -> ResidentGraph | None:
    """The resident evaluation of the canonicalize plans over
    ``pairs`` (``src, dst``), or None when the symmetric table, up to
    twice the input, would not fit the ceilings
    (``regime.collect_if_fits``: an unknown or large estimate, or too
    many rows, declines, and the frame's own probe decides). Rows with
    a null endpoint and self-loops are dropped as the plan's ``src !=
    dst`` (and the not-null filters Catalyst infers from it) drops
    them; then the symmetric distinct edge set from
    ``ResidentGraph.symmetric_keys``. ``packed`` applies the packed
    form's contract to the rows left after the null filter, self-loops
    included: an id outside [0, 2^31) raises, as the plan's
    ``raise_error`` does."""
    t = regime.collect_if_fits(pairs)
    if t is None:
        return None
    t = t.drop_null()
    s, d = t.column("src"), t.column("dst")
    if packed:
        s64, d64 = pc.cast(s, "int64"), pc.cast(d, "int64")
        bad = pc.or_(
            pc.or_(pc.less(s64, 0), pc.greater_equal(s64, _PACK_LIMIT)),
            pc.or_(pc.less(d64, 0), pc.greater_equal(d64, _PACK_LIMIT)),
        )
        if pc.any(bad).as_py():
            i = pc.index(bad, True).as_py()
            raise ValueError(
                f"canonicalize_edges_packed: edge ({s[i]}, {d[i]}) has an id "
                "outside [0, 2^31); use canonicalize_edges"
            )
    t = t.filter(pc.not_equal(s, d))
    g = ResidentGraph.from_ids(t.column("src").to_numpy(), t.column("dst").to_numpy(), {})
    src, dst = np.divmod(g.symmetric_keys(), g.n)
    return ResidentGraph(g.vertices, src, dst, {})


def canonicalize_edges(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """C1 + C2: drop self-loops, symmetrize, de-duplicate.

    Input: any directed/multi edge list. Output: the simple undirected
    graph as a symmetric edge table (both (u,v) and (v,u) present exactly
    once, u != v), columns ``src, dst``.

    Physical shape: union is free; the single shuffle is the hash
    distinct on (src, dst). Isolated-vertex removal (C3) is implicit in
    the edge representation.
    """
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).where(
        F.col("src") != F.col("dst")
    )
    sym = e.unionByName(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).dropDuplicates(["src", "dst"])
    if _numpy_orders(*(f.dataType for f in e.schema)):
        regime.attach_graph(sym, lambda: _canonical_graph(e, packed=False))
    return sym


def canonicalize_edges_packed(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """``canonicalize_edges`` with the symmetrize+dedupe shuffle run on
    a SINGLE packed int64 key ``(src << 32) | dst`` instead of the
    (src, dst) pair — same output, ~33% fewer shuffle bytes (one-long
    UnsafeRow 16 B vs 24 B) and single-word sort/hash compares through
    the distinct, the dominant cost of the stage in the all-shuffle
    regime (the webe2esh scaling row's piecewise probe blames SMJ/agg
    memory bandwidth).

    REQUIRES ``0 <= id < 2^31`` for both endpoints — the contract of
    dictionary-mapped vids (``vertex_dictionary_scalable`` ranks are
    dense from 0; the kernel applies the same int32 downcast,
    triangles.py). The contract is checked in-plan, on the rows the
    distinct reads anyway: an id outside it fails the job through
    ``raise_error`` instead of packing to a wrong key (the attached
    graph raises the same way). Output columns carry the same types as
    ``canonicalize_edges``'s.
    """
    # the pair form's union widens both output columns to the common
    # type of the two inputs; coalesce resolves the same type
    id_type = edges.select(F.coalesce(src, dst)).schema[0].dataType
    # cast to long BEFORE shifting: on an int-typed column Java's shift
    # semantics wrap the shift count mod 32, so shiftleft(int, 32) would
    # silently return the value unshifted and corrupt the packing
    s, d = F.col(src).cast("long"), F.col(dst).cast("long")
    out_of_range = (s < 0) | (s >= _PACK_LIMIT) | (d < 0) | (d >= _PACK_LIMIT)
    e = edges.select(
        F.when(
            out_of_range,
            F.raise_error(
                F.format_string(
                    "canonicalize_edges_packed: edge (%s, %s) has an id "
                    "outside [0, 2^31); use canonicalize_edges",
                    s, d,
                )
            ),
        ).otherwise(s).alias("src"),
        d.alias("dst"),
    ).where(F.col("src") != F.col("dst"))
    packed = e.select(
        (F.shiftleft(F.col("src"), 32) + F.col("dst")).alias("pk")
    ).unionByName(
        e.select((F.shiftleft(F.col("dst"), 32) + F.col("src")).alias("pk"))
    )
    sym = packed.distinct().select(
        F.shiftright("pk", 32).cast(id_type).alias("src"),
        (F.col("pk") % F.lit(1 << 32)).cast(id_type).alias("dst"),
    )
    pairs = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    if all(isinstance(f.dataType, IntegralType) for f in pairs.schema):
        regime.attach_graph(sym, lambda: _canonical_graph(pairs, packed=True))
    return sym


def degrees(sym_edges: DataFrame) -> DataFrame:
    """C4: per-vertex undirected degree from the *symmetric* edge table.

    One hash aggregate; Catalyst inserts the map-side partial combine
    (the DataFrame analog of the reference's atomicAdd histogram,
    round_clean_subgraph.cu:348-355). Output: ``v, deg``.
    """
    return sym_edges.groupBy(F.col("dst").alias("v")).agg(F.count("*").alias("deg"))


def orient(sym_edges: DataFrame, deg: DataFrame | None = None) -> DataFrame:
    """C5: degree orientation of the symmetric edge table.

    Keeps u→v iff  deg(u) < deg(v)  OR  (deg(u) == deg(v) AND v < u).
    Exactly one direction per undirected edge survives; every triangle has
    a unique minimum corner under the total order (deg asc, id desc).

    Physical shape: two shuffle joins against the degree table (src side,
    then dst side) + a codegen'd filter. No prefix-sum / CSR build is
    needed at the logical level — positional layout is a kernel-local
    concern (see triangles.triangle_count_kernel).

    Without an explicit ``deg`` the frame carries the resident
    evaluation (``_oriented_graph``); with one, only the plan.
    """
    resident = deg is None
    if deg is None:
        deg = degrees(sym_edges)
    d_src = deg.select(F.col("v").alias("src"), F.col("deg").alias("deg_src"))
    d_dst = deg.select(F.col("v").alias("dst"), F.col("deg").alias("deg_dst"))
    oriented = (
        sym_edges.join(d_src, "src")
        .join(d_dst, "dst")
        .where(
            (F.col("deg_src") < F.col("deg_dst"))
            | ((F.col("deg_src") == F.col("deg_dst")) & (F.col("dst") < F.col("src")))
        )
        .select("src", "dst")
    )
    if resident and _numpy_orders(*(f.dataType for f in oriented.schema)):
        regime.attach_graph(oriented, lambda: _oriented_graph(sym_edges))
    return oriented


def _oriented_graph(sym_edges: DataFrame) -> ResidentGraph | None:
    """The resident evaluation of ``orient(sym_edges)``, from the graph
    of ``sym_edges`` (``regime.source_graph``; for a canonical table, a
    memo hit), or None when it has none: the frame's own probe decides.
    Degrees by ``np.bincount`` of ``dst`` — one per row, as ``degrees``
    counts — and the orientation rule on positions, which follow id
    order. ``deg(src) > 0`` mirrors the plan's inner join for input
    that is not symmetric."""
    g = regime.source_graph(sym_edges)
    if g is None:
        return None
    deg = np.bincount(g.dst, minlength=g.n)
    ds, dd = deg[g.src], deg[g.dst]
    return g.subgraph((ds > 0) & ((ds < dd) | ((ds == dd) & (g.dst < g.src))))


def vertex_dictionary_scalable(keys: DataFrame, key_col: str = "url") -> DataFrame:
    """Two-phase deterministic id assignment that never funnels through a
    single task: range-partition by key, number within partitions, then
    add per-partition offsets (computed from partition sizes, a tiny
    driver-side cumsum).

    The output mapping is exactly key → global sorted rank, ids
    contiguous 0..N-1 (the reference's DGL relabeling, SURVEY.md §1.1
    step 4): range boundaries only decide WHERE a key is
    numbered, never its final id, so the result is deterministic under
    retries and independent of the sampled range split.

    ALL-JVM numbering (r4): the per-partition numbering is
    ``monotonically_increasing_id()`` over range-partitioned,
    partition-sorted keys — its value is exactly
    ``(partition_id << 33) + local_row_index``, so splitting the bits
    yields (part_id, local_rn) with no Python worker in the path (the
    r3 form shipped every key through a mapInPandas Arrow round-trip —
    at 10^12 urls that is the single largest Python-boundary crossing
    in the engine, and "UDFs are the slow path"). Determinism: keys are
    distinct and each partition is sorted before ids are assigned, so a
    retried partition re-sorts identically and gets identical ids —
    the same guarantee the pandas form had.

    ``numbered`` is consumed twice (size collect + offset lookup) — it is
    persisted so the range shuffle and numbering run once.
    """
    distinct = keys.select(key_col).distinct().repartitionByRange(F.col(key_col))
    numbered = (
        distinct.sortWithinPartitions(key_col)
        .withColumn("mid", F.monotonically_increasing_id())
        .select(
            key_col,
            F.shiftright("mid", 33).cast("int").alias("part_id"),
            (F.col("mid") % F.lit(1 << 33)).cast("long").alias("local_rn"),
        )
        .persist()
    )
    sizes = numbered.groupBy("part_id").agg(F.count("*").alias("n")).collect()
    # per-partition offsets as an in-plan literal map on part_id: a
    # driver-built table would cost a Python-worker job to parallelize
    offsets = []
    acc = 0
    for r in sorted(sizes, key=lambda r: r["part_id"]):
        offsets += [F.lit(r["part_id"]), F.lit(acc).cast("long")]
        acc += r["n"]
    offset = F.create_map(*offsets)[F.col("part_id")] if offsets else F.lit(0).cast("long")
    return numbered.select(
        F.col(key_col), (F.col("local_rn") + offset).alias("vid")
    )
