"""Synchronous label propagation ([EXT], BASELINE.json north_rule).

Deterministic LPA: every vertex starts with label = its own id; each
round every vertex adopts the most frequent label among its neighbors,
ties broken by the SMALLEST label; stops when no label changes or after
``max_iter`` rounds. Synchronous + deterministic tie-break ⇒ identical
output on every run and any partitioning (the property the correctness
gate needs; asynchronous LPA is run-order dependent).

Physical shape per round: the label state is VERTEX-sized while the
work table is EDGE-sized, so the state ships to the edges — a shuffle
join by default, a forced broadcast with ``broadcast_state=True``
(opt-in, right up to ~10M vertices; beyond that — the 10^12-url
regime — the forced broadcast would hard-fail, which is why False is
the default, matching ``pagerank``). The symmetric edge table is
hash-partitioned on dst ONCE up front; the broadcast join preserves
it, and HashPartitioning(dst) satisfies the (v, label) clustering the
frequency aggregate needs (subset rule), so a round's edge-sized work
is a single co-partitioned stage: no per-round edge shuffle. Top-1 is
window-free via max_by on the (freq, -label) pair — no row_number
window, so no skew pile-up on a single partition.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from trianglecount_spark.operators.iterative import IterationLog, iterate
from trianglecount_spark.operators.regime import resolve_broadcast


def label_propagation(
    edges: DataFrame,
    max_iter: int = 20,
    check_every: int = 4,
    state_dir: str | None = None,
    resume: bool = False,
    broadcast_state: bool | str = False,
) -> tuple[DataFrame, IterationLog]:
    """LPA over an undirected edge list. Returns (``v, label``, log).

    ``broadcast_state`` defaults False (shuffle join — safe at any
    vertex count), matching ``pagerank``'s conservative default; opt in
    at call sites where the label state is known to fit an executor
    (≲10M vertices — the gate/bench graphs do, see plans/queries.py),
    where the forced broadcast makes each round's edge-side join
    shuffle-free."""
    broadcast_state = resolve_broadcast(broadcast_state, edges)
    pin = F.broadcast if broadcast_state else (lambda df: df)
    sym = (
        edges.select("src", "dst")
        .unionByName(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .where(F.col("src") != F.col("dst"))
        .distinct()
        .repartition("dst")
        .cache()
    )
    all_v = (
        edges.select(F.col("src").alias("v"))
        .unionByName(edges.select(F.col("dst").alias("v")))
        .distinct()
    )
    init = all_v.select("v", F.col("v").alias("label"))

    def step(labels: DataFrame, i: int) -> DataFrame:
        freq = (
            sym.join(pin(labels.withColumnRenamed("v", "src")), "src")
            .groupBy(F.col("dst").alias("v"), F.col("label"))
            .agg(F.count("*").alias("freq"))
        )
        # top-1 by (freq desc, label asc) without a window: max_by over a
        # sortable struct — (freq, -label) maximum = smallest label on ties.
        best = freq.groupBy("v").agg(
            F.max_by("label", F.struct(F.col("freq"), (-F.col("label")).alias("nl"))).alias(
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
    (v, label) hash aggregate, one window-free top-1 via max_by — the
    identical shape as synchronous LPA above, and deterministic for the
    same reason (synchronous rounds + total tie order)."""
    labels = seeds.select("v", "label").localCheckpoint(eager=True)
    for _ in range(rounds):
        nbr = edges.join(
            labels.withColumnRenamed("v", "src"), "src"
        ).select(F.col("dst").alias("v"), "label")
        cnt = nbr.groupBy("v", "label").agg(F.count("*").alias("c"))
        cand = cnt.groupBy("v").agg(
            F.max_by("label", F.struct(F.col("c"), (-F.col("label")).alias("nl"))).alias(
                "label"
            )
        )
        labels = (
            seeds.select("v", "label")
            .unionByName(cand.join(seeds, "v", "left_anti"))
            .localCheckpoint(eager=True)
        )
    return labels
