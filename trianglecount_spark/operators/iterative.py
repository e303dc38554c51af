"""Shared driver for iterative DataFrame algorithms (SURVEY.md §4 item 3).

The reference has no iterative algorithms (each CUDA round is a fresh
process); PageRank / CC / LPA are driver-mandated extensions
(BASELINE.json north_rule) and share the same needs:

- lineage truncation: each round's plan references the previous round's;
  ``localCheckpoint`` on check rounds cuts it (on a real cluster use
  ``setCheckpointDir`` + reliable ``checkpoint`` for fault tolerance).
- few actions: between check rounds the plans chain LAZILY — no job is
  launched at all. One materialization + one convergence aggregate per
  ``check_every`` rounds, instead of 2-3 collects per round. At a
  thousand executors, driver round-trips are the scalability ceiling of
  any iterative algorithm; this keeps them at 2/K rounds.
- resumability: optionally persist state to ``state_dir/round=NNN``
  parquet; ``resume`` picks up the latest.
- per-check metrics: deltas / wall time / partition counts — and, with
  ``partition_metrics=True``, per-partition row counts + skew ratio —
  returned as an IterationLog (the per-partition lineage+metrics the
  north_rule asks for); ``log.dump(path)`` writes the JSON. Every entry
  names the ``regime`` the round ran in.

The RESIDENT regime is the reference's other half: a graph that fits
one worker is not partitioned at all (the whole CSR stays on one
device). ``collect_edges`` pulls an edge table that passed
``regime.fits_broadcast`` onto the driver once (Spark collects every
broadcast relation there anyway, so the same ceilings bound it), and
``iterate_resident`` runs the operator's numpy step with ``iterate``'s
check cadence, stop rule, log keys and ``state_dir`` round format — so
a run resumes across regimes. A resident round is microseconds of
numpy instead of one or more Spark jobs.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass, field
from typing import Any, Callable

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
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

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.rounds, f, indent=1)


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
    state: DataFrame,
    step: Callable[[DataFrame, int], DataFrame],
    delta_fn: Callable[[DataFrame, DataFrame], float],
    max_iter: int,
    tol: float = 0.0,
    check_every: int = 4,
    state_dir: str | None = None,
    resume: bool = False,
    log: IterationLog | None = None,
    materialize_every: int = 1,
    partition_metrics: bool = False,
    regime: str = "shuffle",
) -> tuple[DataFrame, IterationLog]:
    """Run ``step(state, i) -> new_state`` (pure plan transform, NO
    actions) for up to ``max_iter`` rounds. Every ``check_every`` rounds:
    localCheckpoint the state (the only job launch), evaluate
    ``delta_fn(prev_checked_state, state)`` and stop if ``delta <= tol``.

    Note the convergence test spans ``check_every`` rounds — for
    contraction-style algorithms (PageRank) this is conservative; for
    fixpoint algorithms (min-label, LPA, star-contraction) state equality
    across K rounds implies the fixpoint was reached.

    ``regime`` (``"shuffle"`` or ``"broadcast"``: how ``step`` ships its
    vertex-sized state) is recorded in every log entry.
    """
    log = log or IterationLog()
    start_round = 0
    spark = state.sparkSession

    if resume and state_dir:
        last = _last_complete_round(spark, state_dir)
        if last is not None:
            start_round = last + 1
            state = spark.read.parquet(f"{state_dir}/round={last}")

    state = state.localCheckpoint(eager=True)
    prev_checked = state
    t0 = time.time()
    for i in range(start_round, max_iter):
        state = step(state, i)
        # Materialization cadence. Default (1) is the eager per-round
        # GraphX/GraphFrames design: a step that references its input
        # more than once (PageRank's dangling-mass form; star-
        # contraction's mins + join) would otherwise recompute the chain
        # per reference — lazy chaining across K rounds is 2^K
        # recomputation at runtime and 2^K plan nodes for Catalyst.
        # SINGLE-reference steps (dangling-free PageRank: one join + one
        # agg per round) may set materialize_every > 1: K rounds chain
        # lazily into ONE job of K sequential shuffle stages, amortizing
        # job-launch + checkpoint overhead (measured 2.1x at sf0.1,
        # K=5). Keep K small (≤ ~5) — plan size still grows linearly and
        # Catalyst analysis/codegen goes superlinear well before K=10.
        # Old checkpoint blocks are GC'd by ContextCleaner.
        is_check = _is_check(i, check_every, max_iter)
        if (i + 1) % materialize_every == 0 or is_check:
            state = state.localCheckpoint(eager=True)
        if not is_check:
            continue
        if state_dir:
            state.write.mode("overwrite").parquet(f"{state_dir}/round={i}")
        delta = float(delta_fn(prev_checked, state))
        entry = dict(
            round=i,
            delta=delta,
            seconds=round(time.time() - t0, 3),
            partitions=state.rdd.getNumPartitions(),
            regime=regime,
        )
        if partition_metrics:
            entry.update(_partition_rows(state))
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


def local_frame(spark: SparkSession, schema: StructType, columns: list) -> DataFrame:
    """Driver-side arrays as a DataFrame of exactly ``schema``: a local
    relation built from Arrow — no job, no Python worker."""
    table = pa.Table.from_arrays([pa.array(c) for c in columns], names=schema.names)
    return spark.createDataFrame(table, schema)


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

    @property
    def n(self) -> int:
        return len(self.vertices)

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


def _column(table: pa.Table, name: str) -> np.ndarray:
    col = table.column(name)
    if col.null_count:
        raise ValueError(f"column {name!r} has nulls")
    return col.to_numpy()


def collect_edges(edges: DataFrame, *extra: str) -> ResidentGraph:
    """Collect ``src, dst`` (plus the ``extra`` columns) onto the driver
    with one ``toArrow`` job. Callers have checked
    ``regime.fits_broadcast(edges)``. Null endpoints raise: they are no
    vertex the numpy rounds can order."""
    table = edges.select("src", "dst", *extra).toArrow()
    src, dst = _column(table, "src"), _column(table, "dst")
    vertices, inv = np.unique(np.concatenate([src, dst]), return_inverse=True)
    return ResidentGraph(
        vertices=vertices,
        src=inv[: len(src)].astype(np.int64),
        dst=inv[len(src):].astype(np.int64),
        columns={c: _column(table, c) for c in extra},
    )


def iterate_resident(
    state: Any,
    step: Callable[[Any, int], Any],
    delta_fn: Callable[[Any, Any], float],
    *,
    max_iter: int,
    check_every: int,
    state_dir: str | None,
    resume: bool,
    spark: SparkSession,
    to_frame: Callable[[Any], DataFrame],
    from_frame: Callable[[DataFrame], Any],
    tol: float = 0.0,
    partition_metrics: bool = False,
) -> tuple[Any, IterationLog]:
    """``iterate`` for a driver-resident numpy state: the same check
    cadence, ``tol`` stop rule, log keys and ``state_dir``/``resume``
    rounds. ``to_frame``/``from_frame`` convert the state to and from
    the distributed form's state DataFrame, so rounds written by either
    loop resume in the other. The state is one partition: ``len(state)``
    rows."""
    log = IterationLog()
    start_round = 0
    if resume and state_dir:
        last = _last_complete_round(spark, state_dir)
        if last is not None:
            start_round = last + 1
            state = from_frame(spark.read.parquet(f"{state_dir}/round={last}"))
    prev_checked = state
    t0 = time.time()
    for i in range(start_round, max_iter):
        state = step(state, i)
        if not _is_check(i, check_every, max_iter):
            continue
        if state_dir:
            to_frame(state).write.mode("overwrite").parquet(f"{state_dir}/round={i}")
        delta = float(delta_fn(prev_checked, state))
        entry = dict(
            round=i,
            delta=delta,
            seconds=round(time.time() - t0, 3),
            partitions=1,
            regime="resident",
        )
        if partition_metrics:
            entry.update(_skew_summary({0: len(state)} if len(state) else {}))
        log.add(**entry)
        t0 = time.time()
        prev_checked = state
        if delta <= tol:
            break
    return state, log
