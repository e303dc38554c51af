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

All of it is expressed as declarative DataFrame plans so Catalyst handles
pushdown, partial aggregation, and join strategy. At 100 TB the degree
table is V rows (billions) — it shuffles; never assume it broadcasts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


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
    return (
        e.unionByName(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .dropDuplicates(["src", "dst"])
    )


# exclusive upper bound on ids the packed form accepts: two 31-bit ids
# pack into one non-negative int64 (src << 32) | dst
_PACK_LIMIT = 1 << 31


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
    ``raise_error`` instead of packing to a wrong key. Output columns
    carry the same types as ``canonicalize_edges``'s.
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
    return packed.distinct().select(
        F.shiftright("pk", 32).cast(id_type).alias("src"),
        (F.col("pk") % F.lit(1 << 32)).cast(id_type).alias("dst"),
    )


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
    """
    if deg is None:
        deg = degrees(sym_edges)
    d_src = deg.select(F.col("v").alias("src"), F.col("deg").alias("deg_src"))
    d_dst = deg.select(F.col("v").alias("dst"), F.col("deg").alias("deg_dst"))
    return (
        sym_edges.join(d_src, "src")
        .join(d_dst, "dst")
        .where(
            (F.col("deg_src") < F.col("deg_dst"))
            | ((F.col("deg_src") == F.col("deg_dst")) & (F.col("dst") < F.col("src")))
        )
        .select("src", "dst")
    )


def vertex_dictionary(keys: DataFrame, key_col: str = "url") -> DataFrame:
    """Deterministic key→long id dictionary: ``<key_col>, vid``.

    Uses ``row_number`` over a total sort of the distinct keys —
    deterministic under task retries, unlike
    ``monotonically_increasing_id``. ids are contiguous 0..N-1 (the
    reference's DGL relabeling, SURVEY.md §1.1 step 4).

    Scale note: a single global row_number window serializes through one
    task. For 10^12 keys use the two-phase variant: sort → per-partition
    row_number + partition-offset cumsum (zipWithIndex-style). The
    two-phase form is what ``vertex_dictionary_scalable`` implements.
    """
    w = Window.orderBy(F.col(key_col))
    return keys.select(key_col).distinct().select(
        F.col(key_col), (F.row_number().over(w) - F.lit(1)).cast("long").alias("vid")
    )


def vertex_dictionary_scalable(keys: DataFrame, key_col: str = "url") -> DataFrame:
    """Two-phase deterministic id assignment that never funnels through a
    single task: range-partition by key, number within partitions, then
    add per-partition offsets (computed from partition sizes, a tiny
    driver-side cumsum).

    The output mapping is exactly key → global sorted rank (identical to
    ``vertex_dictionary``): range boundaries only decide WHERE a key is
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
