"""The one broadcast-or-shuffle regime rule.

Every ``"auto"`` physical-regime decision in the engine — the closure
side of the triangle joins, the vertex-sized state of the iterative and
frontier operators, the link-prediction adjacency — is the same
question the reference answers once: does the operand fit in one
worker's memory (the whole CSR resident on-device), or must it be
partitioned? Here "fits" means "can be broadcast", and the answer comes
from ``fits_broadcast``; every regime flag goes through
``resolve_broadcast``. For the iterative operators a fitting graph is
not partitioned at all: ``iterative_regime`` sends it to the resident
regime (operators/iterative.py), the reference's on-device CSR.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

# Broadcast ceilings: 32M packed edges ≈ 512 MB serialized — the
# practical single-executor broadcast ceiling. Tests shrink them to
# force the shuffle regime on a small fixture.
BYTE_LIMIT = 512 * 1024 * 1024
ROW_LIMIT = 32_000_000

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


def fits_broadcast(df: DataFrame) -> bool:
    """True iff ``df`` fits the broadcast ceiling.

    Catalyst's size estimate is trusted when it ALLOWS the broadcast:
    without CBO table stats Catalyst only ever overestimates join
    lineage (measured 55 GB claimed for a 4 MB self-join projection),
    so a small estimate is reliable. An unknown or over-ceiling
    estimate is settled by one ``count()`` against the row ceiling — a
    map-side partial agg, noise next to either regime it guards."""
    est = estimated_bytes(df)
    if est is not None and est <= BYTE_LIMIT:
        return True
    return df.count() <= ROW_LIMIT


def resolve_broadcast(flag: bool | str, proxy: DataFrame) -> bool:
    """Resolve a regime tri-state (``closure``, ``broadcast_state``,
    ``broadcast_adjacency``) to a bool: ``True``/``False`` pass through
    as explicit overrides; ``"auto"`` is ``fits_broadcast(proxy)``.
    Callers pass the EDGE table as the proxy for vertex-sized state (a
    sound upper bound: the state never exceeds one row per edge
    endpoint), so an oversized input degrades to the always-correct
    shuffle regime instead of failing at the broadcast.

    Anything else raises: a typo like ``'Auto'`` or ``'none'`` is a
    truthy string and must not silently pick a regime."""
    if flag not in (True, False, "auto"):
        raise ValueError(
            f"broadcast regime flag must be True, False or 'auto', got {flag!r}"
        )
    if flag == "auto":
        return fits_broadcast(proxy)
    return bool(flag)


def iterative_regime(flag: bool | str, edges: DataFrame) -> str:
    """The regime of an iterative operator (PageRank, LPA) with a
    ``broadcast_state`` tri-state: ``"auto"`` is ``"resident"`` when the
    edge table fits the ceiling — the whole graph iterates on the
    driver, as the reference keeps a fitting CSR on one device — and
    ``"shuffle"`` otherwise; ``True``/``False`` keep the distributed
    ``"broadcast"``/``"shuffle"`` plans."""
    if flag == "auto":
        return "resident" if fits_broadcast(edges) else "shuffle"
    return "broadcast" if resolve_broadcast(flag, edges) else "shuffle"
