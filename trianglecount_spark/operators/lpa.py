"""Synchronous label propagation ([EXT], BASELINE.json north_rule).

Deterministic LPA: every vertex starts with label = its own id; each
round every vertex adopts the most frequent label among its neighbors,
ties broken by the SMALLEST label; stops when no label changes or after
``max_iter`` rounds. Synchronous + deterministic tie-break ⇒ identical
output on every run and any partitioning (the property the correctness
gate needs; asynchronous LPA is run-order dependent).

Two regimes, chosen the way ``connected_components`` chooses:

- resident, whenever the edge table fits the broadcast ceiling
  (``regime.resident_graph``): the same synchronous rounds in numpy over
  the collected edge table, labels held as vertex positions (positions
  sort like ids, so "smallest label" is unchanged);
- shuffle otherwise. The label state is VERTEX-sized while the work
  table is EDGE-sized, so the state ships to the edges: the symmetric
  edge table is hash-partitioned on src ONCE up front and cached, and
  each round shuffles only the label vector onto it. Top-1 is
  window-free via min_by on the (-freq, label) pair — no row_number
  window, so no skew pile-up on a single partition.

No broadcast-state plan: no measured cell prefers one for LPA.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from trianglecount_spark.operators.iterative import (
    IterationLog,
    iterate,
    local_frame,
    vertex_field,
)
from trianglecount_spark.operators.regime import resident_graph


def label_propagation(
    edges: DataFrame,
    max_iter: int = 20,
    check_every: int = 4,
    state_dir: str | None = None,
    resume: bool = False,
) -> tuple[DataFrame, IterationLog]:
    """LPA over an undirected edge list. Returns (``v, label``, log);
    the regime is resident or shuffle (module docstring). An empty edge
    table gives an empty result and log."""
    vf = vertex_field(edges)
    schema = StructType([vf, StructField("label", vf.dataType, vf.nullable)])
    g = resident_graph(edges)
    if g is not None:
        return _lpa_resident(edges, g, schema, max_iter, check_every, state_dir, resume)
    sym = (
        edges.select("src", "dst")
        .unionByName(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .where(F.col("src") != F.col("dst"))
        .distinct()
        .repartition("src")
        .cache()
    )
    all_v = (
        edges.select(F.col("src").alias("v"))
        .unionByName(edges.select(F.col("dst").alias("v")))
        .distinct()
    )
    init = all_v.select("v", F.col("v").alias("label")).localCheckpoint(eager=True)
    if init.isEmpty():
        return local_frame(edges.sparkSession, schema, [[], []]), IterationLog()

    def step(labels: DataFrame, i: int) -> DataFrame:
        freq = (
            sym.join(labels.withColumnRenamed("v", "src"), "src")
            .groupBy(F.col("dst").alias("v"), F.col("label"))
            .agg(F.count("*").alias("freq"))
        )
        # top-1 by (freq desc, label asc) without a window: min_by over a
        # sortable struct — (-freq, label) minimum = smallest label on
        # ties, for any orderable label type (strings included)
        best = freq.groupBy("v").agg(
            F.min_by("label", F.struct((-F.col("freq")).alias("nf"), F.col("label"))).alias(
                "new_label"
            )
        )
        return labels.join(best, "v", "left").select(
            "v", F.coalesce("new_label", "label").alias("label")
        )

    def delta_fn(prev: DataFrame, cur: DataFrame) -> float:
        return float(
            cur.join(prev.withColumnRenamed("label", "prev"), "v")
            .where(F.col("label") != F.col("prev"))
            .count()
        )

    return iterate(
        init, step, delta_fn, max_iter=max_iter, tol=0.0,
        check_every=check_every, state_dir=state_dir, resume=resume,
    )


def _lpa_resident(
    edges, g, schema, max_iter, check_every, state_dir, resume
) -> tuple[DataFrame, IterationLog]:
    """``label_propagation``'s rounds on vertex positions. Each round's
    ``(dst, label)`` frequency table is an ``np.unique`` over keys
    packed as ``dst·n + label``, like ``ResidentGraph.symmetric_keys``."""
    n, spark = g.n, edges.sparkSession

    def to_frame(lab: np.ndarray) -> DataFrame:
        return local_frame(spark, schema, [g.vertices, g.vertices[lab]])

    if n == 0:
        return to_frame(np.zeros(0, dtype=np.int64)), IterationLog()
    src, dst = np.divmod(g.symmetric_keys(), n)

    def step(lab: np.ndarray, i: int) -> np.ndarray:
        freq_key, freq = np.unique(dst * n + lab[src], return_counts=True)
        v, label = np.divmod(freq_key, n)
        # per v: the highest count; lexsort is stable, so ties keep the
        # ascending label order of the unique keys — smallest label wins
        order = np.lexsort((-freq, v))
        v, label = v[order], label[order]
        first = np.ones(len(v), dtype=bool)
        first[1:] = v[1:] != v[:-1]
        out = lab.copy()
        out[v[first]] = label[first]
        return out

    def from_frame(df: DataFrame) -> np.ndarray:
        t = df.select("v", "label").toArrow()
        lab = np.arange(n)
        lab[g.positions(t.column("v").to_numpy())] = g.positions(
            t.column("label").to_numpy()
        )
        return lab

    labels, log = iterate(
        np.arange(n),
        step,
        lambda prev, cur: np.count_nonzero(prev != cur),
        max_iter=max_iter,
        check_every=check_every,
        state_dir=state_dir,
        resume=resume,
        regime="resident",
        to_frame=to_frame,
        from_frame=from_frame,
    )
    return to_frame(labels), log


def label_spreading(
    edges: DataFrame, seeds: DataFrame, rounds: int = 3
) -> DataFrame:
    """Semi-supervised label spreading over a SYMMETRIC graph: ``seeds``
    (``v, label``) stay clamped; every round each vertex with at least
    one labeled neighbor takes the most frequent neighbor label (ties →
    smallest label), so labels flood outward ``rounds`` hops from the
    seed set — the weak-supervision pass that turns a small labeled set
    plus a kNN graph into corpus-wide labels. Rows: ``v, label`` for
    every vertex reached by round ``rounds``.

    Per round: one shuffle join (current labels onto edge sources), one
    (v, label) hash aggregate, one window-free top-1 via min_by — the
    identical shape as synchronous LPA above, and deterministic for the
    same reason (synchronous rounds + total tie order)."""
    labels = seeds.select("v", "label").localCheckpoint(eager=True)
    for _ in range(rounds):
        nbr = edges.join(
            labels.withColumnRenamed("v", "src"), "src"
        ).select(F.col("dst").alias("v"), "label")
        cnt = nbr.groupBy("v", "label").agg(F.count("*").alias("c"))
        cand = cnt.groupBy("v").agg(
            F.min_by("label", F.struct((-F.col("c")).alias("nc"), F.col("label"))).alias(
                "label"
            )
        )
        labels = (
            seeds.select("v", "label")
            .unionByName(cand.join(seeds, "v", "left_anti"))
            .localCheckpoint(eager=True)
        )
    return labels
