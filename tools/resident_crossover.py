"""Resident vs distributed regime of the iterative and triangle
operators and of the graph build, measured.

PageRank (10 dangling-free rounds), connected components, LPA (10
rounds), the arrays triangle count and the whole build each run in
both regimes on one warm JVM: the resident regime, which each operator
and the canonicalize/orient graph pick themselves under the default
ceilings, and the distributed regime — the shuffle plan, for
triangles the array-intersection plan — with the broadcast ceilings
shrunk below the graph, which is what the operators do past the
ceiling. Every cell is one untimed warmup, then ``reps`` timed runs
(regimes interleaved, each result forced with a count; the triangle
totals must agree); the median is kept.

A frame keeps the resident graph built from it
(``regime.attach_graph``), so each timed call builds its input
inside the call and every rep pays its collect: the operator cells
read the persisted ``sym`` (``orient(sym)`` for triangles) through a
fresh projection; ``build`` is the whole chain raw → sym → oriented →
triangle count from the persisted raw edges, i.e. the job the
resident regime replaces (one collect of the raw edges, the
symmetrize, dedupe and orientation in numpy) against canonicalize's
distinct, orient's degree aggregate and joins and the arrays plan.
The canonical and oriented tables the operator cells read are
unpersisted before ``build`` runs: Spark's cache manager would
otherwise serve its distributed plans from them.
``built`` records whether the last ``build``/``over`` run under
non-negative ceilings used the attached graph (for ``dictionary``,
whether it built the dictionary on the driver): past the ceilings (twice the raw rows over
``ROW_LIMIT``) the builder declines and the frame's own probe decides.

``over`` is ``build`` past the ceilings with probing on: its ``probe``
regime runs with positive ceilings below the graph (no size estimate
passes; the row ceiling is a quarter of the raw rows), so every probe
— the declined builders, then the oriented table's count — is timed
and its jobs counted, against the ``shuffle`` regime, whose negative
ceilings skip every probe.

``dictionary`` is the web job's url dictionary
(``extract.edges_from_pages``) over persisted pages, its edges forced
with a count: the Arrow dictionary on the driver against the
range-partitioned dictionary and long-key mapping joins (the edge
counts must agree). It runs only on a pages input, the only op there.

Graphs: an ``sf_dir`` — the copurchase graph bench.py runs at sf0.1
(raw = the lineitem self-join); ``powerlaw4m``, ``powerlaw16m`` and
``powerlaw32m`` — 4M, 16M and 32M raw ``powerlaw_edges`` (50k, 200k
and 400k vertices, skew 2.0); ``pages200k`` and ``pages600k`` —
``make_pages`` crawls of 200k and 600k pages (about 1M and 3M mined
links, 30 pages a site), persisted.

Usage: python tools/resident_crossover.py {<sf_dir>|powerlaw4m|powerlaw16m|powerlaw32m|pages200k|pages600k} [reps] [op,...]
(ops: pagerank, components, lpa, triangles, build, over; default
all, in that order; dictionary alone on pages). Prints one JSON line:
{graph, cores, raw_edges (the pages, on a pages input), und_edges,
cells: {op: {regime: s}}, jobs: {op: {regime: n}}, built,
py_peak_rss_mb}; the distributed regime's key is ``shuffle``. ``jobs``
is the Spark jobs of the last timed run (AQE submits each shuffle
stage as a job). ``py_peak_rss_mb`` is the driver Python process's
peak RSS (``resource.getrusage``), recorded after each cell (it only
grows).
"""

from __future__ import annotations

import json
import os
import resource
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# raw edges and vertices of the synthetic graphs
POWERLAW = {
    "powerlaw4m": (4_000_000, 50_000),
    "powerlaw16m": (16_000_000, 200_000),
    "powerlaw32m": (32_000_000, 400_000),
}
PAGES = {f"pages{k}k": k * 1000 for k in (25, 50, 100, 200)}
OPS = ("pagerank", "components", "lpa", "triangles", "build", "over")


def main() -> None:
    from trianglecount_spark.functions.extract import edges_from_pages
    from trianglecount_spark.operators import regime
    from trianglecount_spark.operators.canonicalize import canonicalize_edges, orient
    from trianglecount_spark.operators.components import connected_components
    from trianglecount_spark.operators.lpa import label_propagation
    from trianglecount_spark.operators.pagerank import pagerank
    from trianglecount_spark.operators.triangles import triangle_count_arrays
    from trianglecount_spark.plans.queries import copurchase_raw
    from trianglecount_spark.session import get_spark
    from trianglecount_spark.sources.pages import make_pages
    from trianglecount_spark.sources.synth import powerlaw_edges

    graph = sys.argv[1]
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    wanted = sys.argv[3].split(",") if len(sys.argv) > 3 else OPS
    names = ["dictionary"] if graph in PAGES else [name for name in OPS if name in wanted]
    cores = int(os.environ.get("SPARK_GRAFT_CPUS", "4"))
    spark = get_spark(
        app_name="resident-crossover", cores=cores,
        extra_confs={"spark.ui.showConsoleProgress": "false"},
    )
    sc = spark.sparkContext
    if graph in PAGES:
        raw = make_pages(spark, PAGES[graph], PAGES[graph] // 30)
    elif graph in POWERLAW:
        raw = powerlaw_edges(spark, *POWERLAW[graph], 2.0)
    else:
        raw = copurchase_raw(spark, graph)
    raw = raw.persist()
    raw_edges = raw.count()
    sym = oriented = und_edges = None
    if set(names) - {"build", "over", "dictionary"}:
        sym = canonicalize_edges(raw).persist()
        und_edges = sym.count() // 2
        oriented = orient(sym).persist()
        oriented.count()

    def fresh(df):
        # a new frame over the persisted table: no resident graph attached
        return df.select("src", "dst")

    built = {}

    def build(name):
        def run():
            s = canonicalize_edges(raw)
            n = triangle_count_arrays(orient(s))
            if regime.ROW_LIMIT >= 0:  # the "auto" regime's run
                built[name] = regime.built_graph(s) is not None
            return n

        return run

    def dictionary():
        handles: list = []
        e, _ = edges_from_pages(raw, handles=handles)
        n = e.count()
        if regime.ROW_LIMIT >= 0:  # the "auto" regime's run
            built["dictionary"] = not handles
        for h in handles:
            h.unpersist(blocking=True)
        return n

    ops = {
        "pagerank": lambda: pagerank(
            fresh(sym), tol=0.0, max_iter=10, check_every=10, dangling_free=True
        ),
        "components": lambda: connected_components(fresh(sym)),
        "lpa": lambda: label_propagation(fresh(sym), max_iter=10),
        "triangles": lambda: triangle_count_arrays(fresh(oriented)),
        "build": build("build"),
        "over": build("over"),
        "dictionary": dictionary,
    }
    # the "auto" regime's ceilings per op: the defaults, or for "over"
    # positive ceilings below the graph — no estimate passes, and the
    # row ceiling is a quarter of the raw rows
    auto = {name: (regime.BYTE_LIMIT, regime.ROW_LIMIT) for name in ops}
    auto["over"] = (1, raw_edges // 4)
    totals = set()

    def timed(name, shuffle: bool, rep: int) -> tuple[float, int]:
        """Seconds and Spark jobs of one run."""
        group = f"{name}-{shuffle}-{rep}"
        sc.setJobGroup(group, name)
        try:
            with regime.ceilings(*((-1, -1) if shuffle else auto[name])):
                t0 = time.perf_counter()
                out = ops[name]()
                if isinstance(out, int):  # a triangle total or edge count
                    totals.add(out)
                else:
                    out, log = out
                    out.count()
                    assert log.rounds[-1]["regime"] == ("shuffle" if shuffle else "resident")
                return (
                    time.perf_counter() - t0,
                    len(sc.statusTracker().getJobIdsForGroup(group)),
                )
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)

    cells, jobs, rss = {}, {}, {}
    for name in names:
        if name in ("build", "over") and sym is not None:
            # else Spark's cache manager serves build's plans from them
            sym.unpersist(blocking=True)
            oriented.unpersist(blocking=True)
            sym = oriented = None
        auto_key = "probe" if name == "over" else "resident"
        samples = {auto_key: [], "shuffle": []}
        for rep in range(reps + 1):
            for reg in samples:
                s, n_jobs = timed(name, reg == "shuffle", rep)
                if rep:  # rep 0 is the untimed warmup
                    samples[reg].append(s)
                    jobs.setdefault(name, {})[reg] = n_jobs
        cells[name] = {reg: round(statistics.median(v), 2) for reg, v in samples.items()}
        rss[name] = round(resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024)
    assert len(totals) <= 1, totals
    print(json.dumps({
        "graph": graph, "cores": cores, "raw_edges": raw_edges, "und_edges": und_edges,
        "cells": cells, "jobs": jobs, "built": built, "py_peak_rss_mb": rss,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
