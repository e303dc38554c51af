"""The one regime rule: resident, broadcast or shuffle.

Every physical-regime decision in the engine — the closure side of the
triangle joins, the vertex-sized state of the iterative and frontier
operators, the link-prediction adjacency, the wedge sides of the
streaming triangle count, the resident graph of the iterative
operators and the arrays triangle count, the url dictionary — is the
question the reference answers once: does the operand fit in one
worker's memory (the whole CSR resident on-device), or must it be
partitioned? Each operator asks it inside its one entry point, through
one of three calls; no caller picks a plan:

- ``collect_if_fits`` (builders: the canonical graph,
  operators/canonicalize.py; the url dictionary, functions/extract.py)
  collects the input in one ``toArrow()`` when the estimates fit, and
  declines with no job otherwise; a builder that starts from another
  frame's graph (``orient``'s) reads it with ``source_graph``;
- ``fits_broadcast`` (distributed consumers) says broadcast or
  shuffle, and never builds a graph;
- ``resident_graph`` (resident consumers: PageRank, components, LPA,
  the arrays triangle count, the pipeline's edge count) returns the
  frame's graph, or None and the distributed plan runs.

A frame can carry a memoized builder of its ``ResidentGraph``
(``attach_graph``: canonicalize.py attaches one to every canonical and
oriented table, and ``resident_graph`` keeps the graph it collects), so
each edge table reaches the driver at most once per job. PageRank alone
keeps a regime between the two: an edge table over the ceiling whose
vertex table fits broadcasts the rank vector, and it alone still takes
a ``broadcast_state`` override.

Resident was measured faster than the distributed plans at every size
run, up to 16M raw edges (31.9M symmetric rows, just under
``ROW_LIMIT``; tools/resident_crossover.py, README "Measured regime
rules"), so the ceilings below stand as the crossover. Larger raw
inputs are unmeasured: there the builders decline and the frame's own
probe decides. Tools and tests pin a plan only through the ceilings:
``ceilings(-1, -1)`` sends every decision to its distributed plan with
no probe job.
"""

from __future__ import annotations

import weakref
from collections.abc import Iterator
from contextlib import contextmanager
from typing import Callable

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame

from trianglecount_spark.operators.iterative import ResidentGraph

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
# parquet — one direction in which the "Catalyst only overestimates"
# argument below fails (r4 advisor). Estimates whose plan leaves
# include a file scan are therefore inflated by this factor before any
# ceiling comparison; InMemoryRelation / LocalRelation / Range leaves
# report accurate in-memory sizes and pass through unadjusted.
FILE_SCAN_DESER_FACTOR = 4
# Optimized-plan leaf class names that denote file/table scans (probed
# on this Spark build: parquet reads = LogicalRelation; cached =
# InMemoryRelation; V2 sources / Hive names included defensively).
_SCAN_LEAF_PREFIXES = ("LogicalRelation", "DataSourceV2", "HiveTableRelation")
# The other direction: a Python node that generates rows passes its
# child's estimate on, whatever it emits — a ``mapInPandas`` over a
# ``Range`` was estimated at 49-69x under its mined links. An estimate
# through one is no estimate. A node under a cache (InMemoryRelation, a
# leaf of the walk) is trusted: a filled cache reports its materialized
# size, though until it is filled it reports its plan's estimate.
_PYTHON_ROW_NODES = frozenset(
    ("MapInPandas", "MapInArrow", "FlatMapGroupsInPandas", "FlatMapGroupsInArrow")
)


def estimated_bytes(df: DataFrame) -> int | None:
    """Catalyst's optimized-plan size estimate — JVM calls, no job.
    None when stats are unavailable or the plan generates rows in a
    Python node outside a cache. File-scan-backed plans are inflated
    by ``FILE_SCAN_DESER_FACTOR`` (compressed-footprint stats, see
    above)."""
    try:
        plan = df._jdf.queryExecution().optimizedPlan()
        size = int(plan.stats().sizeInBytes())
        # Catalyst's "unknown" sentinel is Long.MaxValue-ish
        if not (0 <= size < (1 << 62)):
            return None
        factor, todo = 1, [plan]
        while todo:
            node = todo.pop()
            name = node.getClass().getSimpleName()
            if name in _PYTHON_ROW_NODES:
                return None
            children = node.children()
            n = children.size()
            if n == 0 and name.startswith(_SCAN_LEAF_PREFIXES):
                factor = FILE_SCAN_DESER_FACTOR
            todo += [children.apply(i) for i in range(n)]
        return size * factor
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
    many rows plus one reach the driver, whatever the estimate said.
    The bound is a ``limit``, which on a frame of more than one
    partition adds a shuffle of the rows into one (0.2 s on 300k edges
    in four partitions, warm local[4]), so the canonicalize builders
    collect unbounded and trust the estimate, which a Python row
    generator outside a cache voids (``estimated_bytes``)."""
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
    so a small estimate is reliable once file scans are inflated and
    Python row generators void it (``estimated_bytes``). An unknown or
    over-ceiling estimate is settled by the frame's resident graph
    when one is already built (its row count against ``ROW_LIMIT``, no
    job), else by one ``count()`` against the row ceiling — a map-side
    partial agg, noise next to either regime it guards. Nothing is
    collected here: a distributed consumer pays only this probe."""
    if fits_estimate(df):
        return True
    g = built_graph(df)
    if g is not None:
        return len(g.src) <= ROW_LIMIT
    # no count passes a negative ceiling (how the distributed plans are
    # forced on small graphs): skip the job
    return ROW_LIMIT >= 0 and df.count() <= ROW_LIMIT


def resident_graph(edges: DataFrame, *extra: str) -> ResidentGraph | None:
    """The driver-side graph of ``edges`` (``src, dst`` plus the
    ``extra`` columns) when it fits the ceilings, else None. The graph
    the frame carries is built first (from estimates alone: no job
    beyond its one collect) and fits within ``ROW_LIMIT``; any other
    frame fits by ``fits_broadcast`` and is collected with one
    ``toArrow()``, the graph kept on the frame. A carried graph has no
    ``extra`` columns, so with them the frame is collected. Null
    endpoints raise: they are no vertex the numpy rounds can order."""
    g = attached_graph(edges)
    if not (g is not None and len(g.src) <= ROW_LIMIT or fits_broadcast(edges)):
        return None
    if g is not None and not extra:
        return g
    return _collect_graph(edges, *extra)


def source_graph(frame: DataFrame) -> ResidentGraph | None:
    """The graph a builder derives its own from (the oriented graph,
    operators/canonicalize.py): the one ``frame`` carries, built on
    first use; for a frame with no builder, one collect when
    Catalyst's estimate of it is under ``BYTE_LIMIT``, never a
    ``count()``. None when that declines or ``frame`` has a null
    endpoint (the plan decides)."""
    if frame in _GRAPHS:
        return attached_graph(frame)
    if not fits_estimate(frame):
        return None
    try:
        return _collect_graph(frame)
    except NullColumnError:
        return None


# ---------------------------------------------------------------------------
# the frame → graph registry
# ---------------------------------------------------------------------------


class _Attached:
    """A frame's memoized graph builder (``attach_graph``)."""

    def __init__(self, build: Callable[[], ResidentGraph | None]):
        self.build = build
        self.graph: ResidentGraph | None = None
        # the ceilings build() last returned None under
        self.declined: tuple | None = None

    def get(self) -> ResidentGraph | None:
        if self.graph is None and self.declined != (BYTE_LIMIT, ROW_LIMIT):
            self.graph = self.build()
            self.declined = None if self.graph is not None else (BYTE_LIMIT, ROW_LIMIT)
        return self.graph


# frame -> its _Attached. Weak keys: an entry lives as long as its
# frame, and persist()/cache() return the same object.
_GRAPHS: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def attach_graph(
    frame: DataFrame, build: Callable[[], ResidentGraph | None]
) -> DataFrame:
    """Give ``frame`` a driver-side evaluation of its plan: ``build()``
    returns the graph of ``frame``'s rows, or None when it would not
    fit the broadcast ceilings. The first graph built is kept; a None
    only for the ceilings it was found under, so a later call under
    other ceilings tries again while repeated calls under the same
    ones do not. Returns ``frame``; no job runs here."""
    _GRAPHS[frame] = _Attached(build)
    return frame


def attached_graph(frame: DataFrame) -> ResidentGraph | None:
    """``frame``'s graph, built on first use, or None when ``frame``
    has none (no builder, or the builder declined)."""
    entry = _GRAPHS.get(frame)
    return entry.get() if entry is not None else None


def built_graph(frame: DataFrame) -> ResidentGraph | None:
    """``frame``'s graph if it is already built; never builds."""
    entry = _GRAPHS.get(frame)
    return entry.graph if entry is not None else None


class NullColumnError(ValueError):
    """A collected column the resident regime needs has nulls."""


def _column(table: pa.Table, name: str) -> np.ndarray:
    col = table.column(name)
    if col.null_count:
        raise NullColumnError(f"column {name!r} has nulls")
    return col.to_numpy()


def _collect_graph(edges: DataFrame, *extra: str) -> ResidentGraph:
    """``src, dst`` (plus the ``extra`` columns) on the driver in one
    ``toArrow`` job; without ``extra`` the graph is attached to
    ``edges`` for the next caller."""
    table = edges.select("src", "dst", *extra).toArrow()
    g = ResidentGraph.from_ids(
        _column(table, "src"), _column(table, "dst"),
        {c: _column(table, c) for c in extra},
    )
    if not extra:
        attach_graph(edges, lambda: g)
    return g
