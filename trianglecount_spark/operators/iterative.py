"""Shared driver for iterative DataFrame algorithms (SURVEY.md §4 item 3).

The reference has no iterative algorithms (each CUDA round is a fresh
process); PageRank / CC / LPA are driver-mandated extensions
(BASELINE.json north_rule) and share the same needs:

- lineage truncation: each round's plan references the previous round's;
  a ``localCheckpoint`` per round cuts it (on a real cluster use
  ``setCheckpointDir`` + reliable ``checkpoint`` for fault tolerance).
- few actions: that checkpoint is a round's only job; the convergence
  aggregate runs once per ``check_every`` rounds, instead of 2-3
  collects per round. At a thousand executors, driver round-trips are
  the scalability ceiling of any iterative algorithm; this keeps them
  at one per ``check_every`` rounds.
- resumability: optionally persist state to ``state_dir/round=NNN``
  parquet (``write_parquet``: a resident round from the driver's Arrow
  table, a distributed one by ``df.write``); ``resume`` picks up the
  latest round with a ``_SUCCESS`` marker.
- per-check metrics: deltas / wall time / partition counts — and, with
  ``partition_metrics=True``, per-partition row counts + skew ratio —
  returned as an IterationLog (the per-partition lineage+metrics the
  north_rule asks for); ``log.dump(spark, path)`` writes the JSON on
  the path's filesystem (sources/fsio.py). Every entry
  names the ``regime`` the round ran in.

The RESIDENT regime is the reference's other half: a graph that fits
one worker is not partitioned at all (the whole CSR stays on one
device). ``regime.resident_graph`` hands a fitting edge table's
``ResidentGraph`` to the operator (Spark collects every broadcast
relation on the driver anyway, so the same ceilings bound it), and the
same ``iterate`` loop runs the operator's numpy step
(``regime="resident"``): one check cadence, stop rule, log key set and
``state_dir`` round format for every regime, so a run resumes across
regimes. A resident round is microseconds of numpy instead of one or
more Spark jobs. This module holds the graph and the loop; which
regime runs is decided in operators/regime.py, which this module does
not import.
"""

from __future__ import annotations

import json
import time
import weakref
from dataclasses import dataclass, field
from typing import Any, Callable

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructField, StructType

from trianglecount_spark.sources import fsio


def _partition_rows(state: DataFrame) -> dict:
    """Per-partition row counts of a (checkpointed) state DataFrame,
    computed JVM-side: spark_partition_id groupBy collapses each
    partition to ONE row map-side, so the job ships n_partitions rows —
    negligible next to the check round's delta aggregate. Returns the
    skew summary the north_rule's per-partition metrics ask for (a
    1000-executor operator that silently develops a 50x hot partition
    is the failure this line of the log catches), plus the full
    per-partition histogram when it is small enough to store."""
    counts = (
        state.groupBy(F.spark_partition_id().alias("pid"))
        .count()
        .collect()
    )
    return _skew_summary({int(r["pid"]): int(r["count"]) for r in counts})


def _skew_summary(rows: dict[int, int]) -> dict:
    n = len(rows)
    total = sum(rows.values())
    mx = max(rows.values(), default=0)
    mean = (total / n) if n else 0.0
    out = {
        "n_partitions_nonempty": n,
        "rows_total": total,
        "rows_max_partition": mx,
        "skew_ratio": round(mx / mean, 3) if mean else 0.0,
    }
    # gate on the SPAN (max pid + 1), not the nonempty count: 10
    # nonempty partitions scattered across 4096 total would otherwise
    # write a ~4096-element histogram into every check-round log entry
    if max(rows, default=-1) + 1 <= 256:
        out["rows_per_partition"] = [rows.get(i, 0) for i in range(max(rows, default=-1) + 1)]
    return out


@dataclass
class IterationLog:
    rounds: list[dict] = field(default_factory=list)

    def add(self, **kw) -> None:
        self.rounds.append(kw)

    def dump(self, spark: SparkSession, path: str) -> None:
        """The rounds as JSON at ``path`` — any Hadoop URI (``hdfs:``,
        ``s3a:``, ``file:``), next to the output it describes."""
        fsio.write_text(spark, path, json.dumps(self.rounds, indent=1))


def _last_complete_round(spark: SparkSession, state_dir: str) -> int | None:
    """The highest ``round=N`` under ``state_dir`` that is resumable.

    Hadoop-FS listing (sources/fsio.py), not os.listdir: state_dir may
    be HDFS/S3 under spark-submit — resume must find its rounds on the
    same filesystem the parquet state lives on. Only COMPLETE rounds
    count: mode("overwrite") deletes the target before writing, so a
    crash mid-checkpoint leaves a partial round=N dir without its
    _SUCCESS marker — resume must fall back to the next-lower complete
    round, not silently read half-written state parquet."""
    done = [
        n
        for n in (
            int(d.split("=")[1])
            for d in fsio.list_names(spark, state_dir)
            if d.startswith("round=")
        )
        if fsio.exists(spark, f"{state_dir}/round={n}/_SUCCESS")
    ]
    return max(done, default=None)


def _is_check(i: int, check_every: int, max_iter: int) -> bool:
    return (i + 1) % check_every == 0 or i == max_iter - 1


def iterate(
    state: Any,
    step: Callable[[Any, int], Any],
    delta_fn: Callable[[Any, Any], float],
    max_iter: int,
    tol: float = 0.0,
    check_every: int = 4,
    state_dir: str | None = None,
    resume: bool = False,
    partition_metrics: bool = False,
    regime: str = "shuffle",
    to_frame: Callable[[Any], DataFrame] | None = None,
    from_frame: Callable[[DataFrame], Any] | None = None,
) -> tuple[Any, IterationLog]:
    """Run ``step(state, i) -> new_state`` for up to ``max_iter`` rounds.
    Every ``check_every`` rounds (and the last) evaluate
    ``delta_fn(prev_checked_state, state)``, write the state to
    ``state_dir/round=i`` when given, log the round, and stop if
    ``delta <= tol``. ``resume`` restarts after the highest round whose
    ``_SUCCESS`` marker exists, so on a committer that writes no marker
    it starts again from round 0.

    Note the convergence test spans ``check_every`` rounds — for
    contraction-style algorithms (PageRank) this is conservative; for
    fixpoint algorithms (min-label, LPA, star-contraction) state equality
    across K rounds implies the fixpoint was reached.

    ``regime`` is recorded in every log entry and picks the state's form:

    - ``"shuffle"`` or ``"broadcast"`` (how ``step`` ships its
      vertex-sized state): a DataFrame. ``step`` is a pure plan
      transform, NO actions; each round's state is localCheckpointed
      (its only job) and written to ``state_dir`` as is.
    - ``"resident"``: a driver-side numpy state, one partition of
      ``len(state)`` rows, never checkpointed. ``to_frame`` and
      ``from_frame`` convert it to and from the distributed form's
      state DataFrame, through which rounds are written and resumed,
      so rounds written in either regime resume in the other.

    Rounds are written by ``write_parquet``: a ``local_frame`` from
    ``to_frame`` on the driver, with no Spark job; a DataFrame state by
    ``df.write``. Either way ``_SUCCESS`` lands last.
    """
    log = IterationLog()
    resident = regime == "resident"
    start_round = 0
    if resume and state_dir:
        spark = SparkSession.active() if resident else state.sparkSession
        last = _last_complete_round(spark, state_dir)
        if last is not None:
            start_round = last + 1
            state = spark.read.parquet(f"{state_dir}/round={last}")
            if resident:
                state = from_frame(state)
    if not resident:
        state = state.localCheckpoint(eager=True)
    prev_checked = state
    t0 = time.time()
    for i in range(start_round, max_iter):
        state = step(state, i)
        if not resident:
            # every round is materialized (the GraphX per-round cadence):
            # a step that references its input more than once
            # (PageRank's dangling-mass form; star-contraction's mins +
            # join) would otherwise recompute the lazy chain once per
            # reference. Old checkpoint blocks are GC'd by ContextCleaner.
            state = state.localCheckpoint(eager=True)
        if not _is_check(i, check_every, max_iter):
            continue
        if state_dir:
            write_parquet(to_frame(state) if resident else state, f"{state_dir}/round={i}")
        delta = float(delta_fn(prev_checked, state))
        entry = dict(
            round=i,
            delta=delta,
            seconds=round(time.time() - t0, 3),
            partitions=1 if resident else state.rdd.getNumPartitions(),
            regime=regime,
        )
        if partition_metrics:
            entry.update(
                _skew_summary({0: len(state)} if len(state) else {})
                if resident
                else _partition_rows(state)
            )
        log.add(**entry)
        t0 = time.time()
        prev_checked = state
        if delta <= tol:
            break
    return state, log


# ---------------------------------------------------------------------------
# resident regime
# ---------------------------------------------------------------------------


def vertex_field(edges: DataFrame) -> StructField:
    """The ``v`` column the distributed forms return for ``edges``: the
    common type of ``src`` and ``dst``, nullable if either is. Analysis
    only, no job."""
    return (
        edges.select(F.col("src").alias("v"))
        .unionByName(edges.select(F.col("dst").alias("v")))
        .schema["v"]
    )


# frame -> the Arrow table ``local_frame`` built it from. Weak keys, as
# regime's frame -> graph registry: an entry lives as long as its frame,
# and persist()/cache() return the same object.
_TABLES: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def local_frame(spark: SparkSession, schema: StructType, columns: list) -> DataFrame:
    """Driver-side arrays as a DataFrame of exactly ``schema``: a local
    relation built from Arrow — no job, no Python worker. The frame
    keeps its table (``local_table``), already in the Arrow form of
    ``schema`` (an empty column would otherwise be of Arrow type null,
    and an ``IntegerType`` one int64), so ``write_parquet`` writes the
    file Spark's writer would."""
    arrow = to_arrow_schema(schema)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(columns, arrow)], schema=arrow
    )
    df = spark.createDataFrame(table, schema)
    _TABLES[df] = table
    return df


def local_table(df: DataFrame) -> pa.Table | None:
    """The table ``df`` was built from by ``local_frame``, else None.
    The lookup is by object identity: a frame derived from it (a
    ``select``, an ``alias``) is not a local frame."""
    return _TABLES.get(df)


def write_parquet(df: DataFrame, path: str) -> None:
    """``df`` as the parquet directory ``path``, replacing it. A
    ``local_frame`` is written from its table on the driver
    (``fsio.write_table``: one part file, then ``_SUCCESS``), with no
    Spark job; any other frame by ``df.write``."""
    table = local_table(df)
    if table is None:
        df.write.mode("overwrite").parquet(path)
    else:
        fsio.write_table(df.sparkSession, path, table)


@dataclass
class ResidentGraph:
    """An edge table collected onto the driver: ``vertices`` holds the
    sorted distinct endpoint ids (sorted as Spark orders them, so the
    smallest position is the smallest id), ``src``/``dst`` each edge
    row's endpoint positions in it, in input order, duplicates and
    self-loops kept."""

    vertices: np.ndarray
    src: np.ndarray
    dst: np.ndarray
    columns: dict[str, np.ndarray]

    @classmethod
    def from_ids(
        cls, src: np.ndarray, dst: np.ndarray, columns: dict[str, np.ndarray]
    ) -> "ResidentGraph":
        """The graph of the edge rows ``src[i] → dst[i]`` (id arrays)."""
        vertices, inv = np.unique(np.concatenate([src, dst]), return_inverse=True)
        return cls(
            vertices=vertices,
            src=inv[: len(src)].astype(np.int64),
            dst=inv[len(src):].astype(np.int64),
            columns=columns,
        )

    @property
    def n(self) -> int:
        return len(self.vertices)

    def subgraph(self, keep: np.ndarray) -> "ResidentGraph":
        """The edge rows where ``keep`` holds, without the vertices
        they leave with no edge (positions renumbered, order kept)."""
        src, dst = self.src[keep], self.dst[keep]
        used = np.zeros(self.n, dtype=bool)
        used[src] = used[dst] = True
        pos = np.cumsum(used) - 1
        return ResidentGraph(
            self.vertices[used], pos[src], pos[dst],
            {c: v[keep] for c, v in self.columns.items()},
        )

    def symmetric_keys(self) -> np.ndarray:
        """The symmetric simple edge set (self-loops dropped, both
        directions, distinct) as sorted keys ``a·n + b`` over positions:
        exact, since positions are < n, and ordered by ``a``, then
        ``b``; ``np.divmod(keys, n)`` unpacks them."""
        keep = self.src != self.dst
        a = np.concatenate([self.src[keep], self.dst[keep]])
        b = np.concatenate([self.dst[keep], self.src[keep]])
        return np.unique(a * self.n + b)

    def positions(self, ids: np.ndarray) -> np.ndarray:
        """Positions of ``ids``, each of which must be a vertex."""
        pos = np.searchsorted(self.vertices, ids)
        if len(ids) and (
            pos.max() >= self.n or not np.array_equal(self.vertices[pos], ids)
        ):
            raise ValueError("state ids are not vertices of this graph")
        return pos
