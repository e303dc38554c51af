"""Resident vs shuffle regime of the iterative operators, measured.

PageRank (10 dangling-free rounds), connected components and LPA (10
rounds) each run in both regimes on one warm JVM: the resident regime
through ``broadcast_state="auto"`` (``connected_components`` picks it
itself) and the shuffle regime with the broadcast ceilings shrunk below
the graph, which is what ``"auto"`` does past the ceiling. Every cell
is one untimed warmup, then ``reps`` timed runs (regimes interleaved,
each result forced with a count); the median is kept.

Graphs: an ``sf_dir`` — the copurchase graph bench.py runs at sf0.1;
``powerlaw4m`` — a 4M-raw-edge ``powerlaw_edges`` graph (50k vertices,
skew 2.0), canonicalized.

Usage: python tools/resident_crossover.py {<sf_dir>|powerlaw4m} [reps]
Prints one JSON line: {graph, cores, und_edges, cells: {op: {regime: s}}}.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    from trianglecount_spark.operators import regime
    from trianglecount_spark.operators.canonicalize import canonicalize_edges
    from trianglecount_spark.operators.components import connected_components
    from trianglecount_spark.operators.lpa import label_propagation
    from trianglecount_spark.operators.pagerank import pagerank
    from trianglecount_spark.plans.queries import copurchase_sym
    from trianglecount_spark.session import get_spark
    from trianglecount_spark.sources.synth import powerlaw_edges

    graph = sys.argv[1]
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    cores = int(os.environ.get("SPARK_GRAFT_CPUS", "4"))
    spark = get_spark(
        app_name="resident-crossover", cores=cores,
        extra_confs={"spark.ui.showConsoleProgress": "false"},
    )
    if graph == "powerlaw4m":
        sym = canonicalize_edges(powerlaw_edges(spark, 4_000_000, 50_000, 2.0))
    else:
        sym = copurchase_sym(spark, graph)
    sym = sym.persist()
    und_edges = sym.count() // 2

    ops = {
        "pagerank": lambda: pagerank(
            sym, tol=0.0, max_iter=10, check_every=10, dangling_free=True,
            broadcast_state="auto",
        ),
        "components": lambda: connected_components(sym),
        "lpa": lambda: label_propagation(sym, max_iter=10, broadcast_state="auto"),
    }

    def timed(run, shuffle: bool) -> float:
        saved = regime.BYTE_LIMIT, regime.ROW_LIMIT
        if shuffle:
            regime.BYTE_LIMIT, regime.ROW_LIMIT = -1, -1
        try:
            t0 = time.perf_counter()
            out, log = run()
            out.count()
            assert log.rounds[-1]["regime"] == ("shuffle" if shuffle else "resident")
            return time.perf_counter() - t0
        finally:
            regime.BYTE_LIMIT, regime.ROW_LIMIT = saved

    cells = {}
    for name, run in ops.items():
        samples = {"resident": [], "shuffle": []}
        for rep in range(reps + 1):
            for reg in samples:
                s = timed(run, reg == "shuffle")
                if rep:  # rep 0 is the untimed warmup
                    samples[reg].append(s)
        cells[name] = {reg: round(statistics.median(v), 2) for reg, v in samples.items()}
    print(json.dumps({"graph": graph, "cores": cores, "und_edges": und_edges, "cells": cells}))
    spark.stop()


if __name__ == "__main__":
    main()
