"""The one broadcast-or-shuffle regime rule.

Every physical-regime decision in the engine — the closure side of the
triangle joins, the vertex-sized state of the iterative and frontier
operators, the link-prediction adjacency, the wedge sides of the
streaming triangle count — is the same question the
reference answers once: does the operand fit in one worker's memory
(the whole CSR resident on-device), or must it be partitioned? Here
"fits" means "can be broadcast", and the answer comes from
``fits_broadcast``, which each operator asks inside its one entry
point; no caller picks a plan. For the iterative operators and the
arrays triangle count a fitting graph is not partitioned at all: it
goes to the resident regime (operators/iterative.py;
operators/triangles.py), the reference's on-device CSR, built once per
job from the raw edges (operators/canonicalize.py); those consumers
ask ``fits_resident``, which builds the graph a frame carries, while
``fits_broadcast`` never builds one. The url dictionary of the web job
(``functions/extract.py:edges_from_pages``) is built on the driver by
the same builder rule, ``collect_if_fits``. PageRank alone keeps a third
regime between them: an edge table over the ceiling whose vertex table
fits broadcasts the rank vector (``resolve_broadcast`` on that vertex
table), and it alone still takes a ``broadcast_state`` override.
Resident was measured faster than the distributed plans at every size
run, up to 16M raw edges (31.9M symmetric rows, just under
``ROW_LIMIT``; tools/resident_crossover.py, README "Measured regime
rules"), so the ceilings below stand as the crossover. Larger raw
inputs are unmeasured: there the builders decline and the frame's own
probe decides.

Tools and tests pin a plan only through the ceilings: ``ceilings(-1,
-1)`` sends every decision to its distributed plan with no probe job.
"""

from __future__ import annotations

from collections.abc import Iterator
from contextlib import contextmanager

import pyarrow as pa
from pyspark.sql import DataFrame

from trianglecount_spark.operators.iterative import attached_graph, built_graph

# Broadcast ceilings: 32M packed edges ≈ 512 MB serialized — the
# practical single-executor broadcast ceiling. Set them only through
# ``ceilings`` (tests monkeypatch them).
BYTE_LIMIT = 512 * 1024 * 1024
ROW_LIMIT = 32_000_000


@contextmanager
def ceilings(byte_limit: int, row_limit: int) -> Iterator[None]:
    """Both broadcast ceilings set for the block, restored on exit: how a
    tool pins a plan. Decisions are taken when an operator builds its
    plan, so the operator call goes inside the block. At ``-1`` nothing
    fits and no probe runs a job; ceilings above every estimate let
    each probe settle from its estimate, with no job."""
    global BYTE_LIMIT, ROW_LIMIT
    saved = BYTE_LIMIT, ROW_LIMIT
    BYTE_LIMIT, ROW_LIMIT = byte_limit, row_limit
    try:
        yield
    finally:
        BYTE_LIMIT, ROW_LIMIT = saved


# For FILE-SCAN relations Catalyst's sizeInBytes is the COMPRESSED
# on-disk footprint (spark.sql.sources.fileCompressionFactor defaults to
# 1.0), which understates the deserialized/broadcast size by 3-10x for
# parquet — the one direction in which the "Catalyst only overestimates"
# argument below fails (r4 advisor). Estimates whose plan leaves
# include a file scan are therefore inflated by this factor before any
# ceiling comparison; InMemoryRelation / LocalRelation / Range leaves
# report accurate in-memory sizes and pass through unadjusted.
FILE_SCAN_DESER_FACTOR = 4
# Optimized-plan leaf class names that denote file/table scans (probed
# on this Spark build: parquet reads = LogicalRelation; cached =
# InMemoryRelation; V2 sources / Hive names included defensively).
_SCAN_LEAF_PREFIXES = ("LogicalRelation", "DataSourceV2", "HiveTableRelation")


def estimated_bytes(df: DataFrame) -> int | None:
    """Catalyst's optimized-plan size estimate — a JVM call, no job.
    None when stats are unavailable. File-scan-backed plans are
    inflated by ``FILE_SCAN_DESER_FACTOR`` (compressed-footprint
    stats, see above)."""
    try:
        plan = df._jdf.queryExecution().optimizedPlan()
        size = int(plan.stats().sizeInBytes())
        # Catalyst's "unknown" sentinel is Long.MaxValue-ish
        if not (0 <= size < (1 << 62)):
            return None
        leaves = plan.collectLeaves()
        for i in range(leaves.size()):
            name = leaves.apply(i).getClass().getSimpleName()
            if name.startswith(_SCAN_LEAF_PREFIXES):
                return size * FILE_SCAN_DESER_FACTOR
        return size
    except Exception:
        return None


def fits_estimate(df: DataFrame) -> bool:
    """True iff Catalyst's size estimate of ``df`` is under the byte
    ceiling — no job."""
    est = estimated_bytes(df)
    return est is not None and est <= BYTE_LIMIT


def collect_if_fits(df: DataFrame, max_rows: int | None = None) -> pa.Table | None:
    """The rows of ``df`` in one ``toArrow()`` when a driver-side
    builder whose output is up to twice ``df`` fits the ceilings, else
    None: the builder rule of the resident graph
    (operators/canonicalize.py) and the url dictionary
    (functions/extract.py). An unknown estimate, or twice the estimate
    over ``BYTE_LIMIT``, declines with no job; no ``count()`` ever
    decides. More than ``ROW_LIMIT // 2`` rows collected (or
    ``max_rows``, if lower) decline too.

    Given ``max_rows``, the collect itself is bounded: at most that
    many rows plus one reach the driver, whatever the estimate said —
    for a frame whose estimate can be far below its rows, such as a
    ``mapInPandas`` output. The bound is a ``limit``, which on a frame
    of more than one partition adds a shuffle of the rows into one
    (0.2 s on 300k edges in four partitions, warm local[4]), so the
    canonicalize builders, whose edge tables are usually file scans or
    caches, collect unbounded and trust the estimate."""
    est = estimated_bytes(df)
    if est is None or 2 * est > BYTE_LIMIT:
        return None
    cap = ROW_LIMIT // 2
    if max_rows is not None:
        cap = min(cap, max_rows)
        df = df.limit(cap + 1)
    t = df.toArrow()
    return t if t.num_rows <= cap else None


def fits_broadcast(df: DataFrame) -> bool:
    """True iff ``df`` fits the broadcast ceiling.

    Catalyst's size estimate is trusted when it ALLOWS the broadcast:
    without CBO table stats Catalyst only ever overestimates join
    lineage (measured 55 GB claimed for a 4 MB self-join projection),
    so a small estimate is reliable. An unknown or over-ceiling
    estimate is settled by the frame's resident graph when one is
    already built (``iterative.attach_graph``; its row count against
    ``ROW_LIMIT``, no job), else by one ``count()`` against the row
    ceiling — a map-side partial agg, noise next to either regime it
    guards. Nothing is collected here: a distributed consumer pays
    only this probe."""
    if fits_estimate(df):
        return True
    g = built_graph(df)
    if g is not None:
        return len(g.src) <= ROW_LIMIT
    # no count passes a negative ceiling (how the distributed plans are
    # forced on small graphs): skip the job
    return ROW_LIMIT >= 0 and df.count() <= ROW_LIMIT


def fits_resident(df: DataFrame) -> bool:
    """``fits_broadcast`` for a consumer that collects ``df`` next
    (``iterative.collect_edges``): the graph ``df`` carries is built
    first — its builder decides from estimates alone, so this launches
    no job beyond its one collect — and a graph within ``ROW_LIMIT``
    fits; a frame with no graph, or whose builder declined, goes to
    ``fits_broadcast``."""
    g = attached_graph(df)
    if g is not None and len(g.src) <= ROW_LIMIT:
        return True
    return fits_broadcast(df)


def check_flag(flag: bool | str) -> bool | str:
    """``flag`` itself if it is ``True``, ``False`` or ``"auto"``; any
    other value raises: a typo like ``'Auto'`` or ``'none'`` is a
    truthy string and must not silently pick a regime."""
    if flag not in (True, False, "auto"):
        raise ValueError(
            f"broadcast regime flag must be True, False or 'auto', got {flag!r}"
        )
    return flag


def resolve_broadcast(flag: bool | str, proxy: DataFrame) -> bool:
    """Resolve PageRank's ``broadcast_state`` tri-state to a bool:
    ``True``/``False`` pass through as explicit overrides; ``"auto"`` is
    ``fits_broadcast(proxy)``, where ``pagerank`` passes the vertex
    table it caches and counts anyway. Anything else raises
    (``check_flag``)."""
    if check_flag(flag) == "auto":
        return fits_broadcast(proxy)
    return bool(flag)

