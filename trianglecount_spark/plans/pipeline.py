"""Resumable end-to-end link-graph pipeline — the north-rule job form.

The reference is driven as a shell pipeline of stage executables over
files (Scripts/auto_v72.sh: preprocess → partition → kernel); this is
the Spark-first equivalent for the driver-mandated workload: ONE
spark-submit-able job that takes a Common-Crawl-style pages table and
produces the link-graph analytics suite —

    pages(html) → mined edges + url dictionary        (stage "edges")
                → triangle count (arrays strategy)    (stage "tc")
                → PageRank                            (stage "pagerank")
                → connected components                (stage "components")
                → label propagation                   (stage "lpa")

with the three properties the north rule names:

- RESUMABLE FROM CHECKPOINT: every stage materializes to
  ``out_dir/<stage>`` parquet and is skipped on re-run when its
  ``_SUCCESS`` marker exists AND its fingerprint sidecar matches the
  current edges fingerprint (below). PageRank additionally resumes
  MID-ITERATION from ``out_dir/pr_state/round=N``
  (operators/iterative.py) — a killed 100-round job continues from its
  last check round, not from scratch.
- PER-PARTITION LINEAGE + METRICS: the plan the edges stage ran
  (``regime``: ``resident`` when ``edges_from_pages`` built the url
  dictionary on the driver, else ``distributed``), each iterative
  stage's IterationLog (round deltas, wall seconds, per-partition row
  counts + skew ratio, and the regime each round ran in: ``resident``
  while the graph fits the broadcast ceiling, else ``shuffle`` — or,
  for PageRank, ``broadcast`` while its vertex table fits) and each
  stage's wall time / row count land in ``out_dir/metrics.json``.
- CLUSTER JOB FORM: stages exchange data through parquet, and ALL
  control artifacts — ``_SUCCESS`` probes, fingerprint markers,
  ``tc.json``/``metrics.json`` sidecars — go through the Hadoop
  FileSystem API (sources/fsio.py), so an HDFS/S3 ``out_dir`` behaves
  identically to a local one: the same invocation runs under
  ``spark-submit --py-files trianglecount_spark.zip`` on a real
  cluster (tools/submit_job.py) and resume still finds its markers.

Stage boundaries are parquet (not localCheckpoint) deliberately: a
resumable multi-hour job must survive DRIVER loss, which executor-local
checkpoint blocks do not. Every stage output and check round is written
by ``iterative.write_parquet``: a resident result (the driver's Arrow
table behind a ``local_frame``) as one part file plus ``_SUCCESS``
through the same FileSystem API (``fsio.write_table``), with no Spark
job; a distributed one by ``df.write``. When the edges and
components stages ran resident in this job, the vertex and component
counts come from the tables in hand. Every stage after edges reads the
edges file, so the canonical builder collects it once (a resumed job
does the same). A skipped stage reads its artifacts.

FINGERPRINT GUARD (r3 advisor): stage-skip markers alone can go stale —
if the edges artifact changes (re-mined pages, a cleared edges dir) or
a user deletes one stage dir, blind ``_SUCCESS`` reuse would mix stage
outputs computed on different graphs under one metrics.json. Every
downstream stage therefore records the EDGES FINGERPRINT (row count +
order-independent bit_xor of xxhash64(src,dst) — one map-side agg over
the already-read artifact) in ``<stage>._fp.json`` when it completes,
and is invalidated and recomputed when the recorded fingerprint
mismatches the current one. The mid-iteration ``pr_state`` resume
carries the same guard — a state computed on a different graph is not
resumed — and when that guard REJECTS the recorded state the stale
``round=N`` directories are deleted before the new stamp is written
(r4 advisor: leftover rounds under a fresh stamp would otherwise be
silently resumed — or, when the stale max round ≥ pr_rounds, returned
wholesale — as the new graph's ranks). The edges stage itself is keyed
on a PAGES fingerprint (count + bit_xor of xxhash64(url, html), so
it covers content, not only the url set): a changed pages input —
including re-crawled html under the same urls — forces a re-mine
exactly as a changed edges artifact invalidates every downstream
stage. The price is one hash pass over the html bytes per run, skipped
resumes included.
"""

from __future__ import annotations

import json
import time

import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from trianglecount_spark.operators.iterative import local_table, write_parquet
from trianglecount_spark.sources import fsio


def _done(spark: SparkSession, path: str) -> bool:
    return fsio.exists(spark, f"{path}/_SUCCESS")


def _edges_fingerprint(edges: DataFrame) -> dict:
    """Row count + order-independent bit_xor of the per-row xxhash64 —
    one map-side-combinable agg over the edges artifact, overflow-free
    (xor, not sum — exact under Spark's ANSI mode at any cardinality)."""
    row = edges.agg(
        F.count("*").alias("n"),
        F.expr("bit_xor(xxhash64(src, dst))").alias("x"),
    ).collect()[0]
    return {"n": int(row["n"]), "xor": int(row["x"] or 0)}


def _pages_fingerprint(pages: DataFrame) -> dict:
    """Same construction over the pages INPUT, keyed on (url, html) —
    the mined edges are a function of both."""
    row = pages.agg(
        F.count("*").alias("n"),
        F.expr("bit_xor(xxhash64(url, html))").alias("x"),
    ).collect()[0]
    return {"pages_n": int(row["n"]), "pages_xor": int(row["x"] or 0)}


def run_pipeline(
    spark: SparkSession,
    pages: DataFrame,
    out_dir: str,
    pr_rounds: int = 10,
    lpa_rounds: int = 5,
    resume: bool = True,
) -> dict:
    """Run (or resume) the full pipeline; returns the metrics dict that
    is also written to ``out_dir/metrics.json``."""
    from trianglecount_spark.functions.extract import edges_from_pages
    from trianglecount_spark.operators.canonicalize import (
        canonicalize_edges,
        canonicalize_edges_packed,
        orient,
    )
    from trianglecount_spark.operators.components import connected_components
    from trianglecount_spark.operators.lpa import label_propagation
    from trianglecount_spark.operators.pagerank import pagerank
    from trianglecount_spark.operators.regime import resident_graph
    from trianglecount_spark.operators.triangles import triangle_count_arrays

    fsio.mkdirs(spark, out_dir)
    edges_dir = f"{out_dir}/edges"
    verts_dir = f"{out_dir}/vertices"
    tc_path = f"{out_dir}/tc.json"
    metrics: dict = {"stages": {}}

    def stage(name: str):
        t0 = time.time()

        def finish(**kw):
            metrics["stages"][name] = {
                "seconds": round(time.time() - t0, 3), **kw,
            }

        return finish

    def fp_path(name: str) -> str:
        return f"{out_dir}/{name}._fp.json"

    def fp_fresh(name: str, expected: dict | None = None) -> bool:
        """True iff stage ``name`` recorded a fingerprint matching
        ``expected`` (default: the current edges fingerprint) — one
        control-file read."""
        if not fsio.exists(spark, fp_path(name)):
            return False
        try:
            recorded = json.loads(fsio.read_text(spark, fp_path(name)))
        except Exception:
            # fsio.read_text surfaces transient JVM/FS failures as
            # Py4JJavaError (file deleted between exists() and read,
            # S3/HDFS hiccup) — a marker-read failure must degrade to
            # "recompute the stage", not abort the pipeline (r4 advisor)
            return False
        return recorded == (expected if expected is not None else fp)

    def fp_stamp(name: str, value: dict | None = None) -> None:
        fsio.write_text(
            spark, fp_path(name), json.dumps(value if value is not None else fp)
        )

    # ---- stage: edges (HTML mining + url dictionary) ----------------
    # keyed on the PAGES fingerprint: a changed pages input invalidates
    # the mined edges (see module docstring — the downstream-stage guard
    # discipline applied to the first stage)
    pages_fp = _pages_fingerprint(pages)
    fin = stage("edges")
    # a resident edges stage's dictionary: the driver holds its table
    verts_table = None
    if (
        resume
        and _done(spark, edges_dir)
        and _done(spark, verts_dir)
        and fp_fresh("edges", pages_fp)
    ):
        fin(skipped=True)
    else:
        handles: list = []
        e, verts = edges_from_pages(pages, handles=handles)
        write_parquet(e, edges_dir)
        write_parquet(verts, verts_dir)
        for h in handles:
            h.unpersist()
        fp_stamp("edges", pages_fp)
        # only the distributed plan persists frames for the caller
        fin(skipped=False, regime="distributed" if handles else "resident")
        verts_table = local_table(verts)
    edges = spark.read.parquet(edges_dir)
    fp = _edges_fingerprint(edges)
    metrics["edges_fingerprint"] = fp
    # packed-key canonicalize (one int64 (src<<32|dst) through the
    # symmetrize+dedupe distinct — measured 2→8 scaling 0.77→0.81 on
    # the all-shuffle web job, tools/scaling_job.py v11) is legal only
    # while dictionary vids fit 31 bits; the dictionary is dense from
    # 0, so the vertex COUNT is the bound. Above it (a >2-billion-url
    # crawl) the plan reverts to the unpacked pair — same output.
    metrics["n_vertices"] = (
        verts_table.num_rows
        if verts_table is not None
        else spark.read.parquet(verts_dir).count()
    )
    canon = (
        canonicalize_edges_packed
        if metrics["n_vertices"] < (1 << 31)
        else canonicalize_edges
    )
    sym = canon(edges).persist()

    # ---- stage: triangle count --------------------------------------
    fin = stage("tc")
    if resume and fsio.exists(spark, tc_path) and fp_fresh("tc"):
        metrics["n_triangles"] = json.loads(fsio.read_text(spark, tc_path))[
            "n_triangles"
        ]
        fin(skipped=True)
    else:
        metrics["n_triangles"] = triangle_count_arrays(orient(sym))
        fsio.write_text(
            spark, tc_path, json.dumps({"n_triangles": metrics["n_triangles"]})
        )
        fp_stamp("tc")
        fin(skipped=False)
    # a fitting graph is counted from its resident graph — built by the
    # stage above unless it was skipped — so the canonicalize plan
    # never runs
    g = resident_graph(sym)
    metrics["n_und_edges"] = (len(g.src) if g is not None else sym.count()) // 2

    # ---- stage: pagerank (mid-iteration resumable) -------------------
    fin = stage("pagerank")
    pr_dir = f"{out_dir}/pagerank"
    if resume and _done(spark, pr_dir) and fp_fresh("pagerank"):
        fin(skipped=True)
    else:
        # the pr_state fingerprint gates MID-ITERATION resume: a state
        # computed on a different graph must not be continued. When the
        # gate REJECTS (different graph, resume=False, or no stamp),
        # delete the stale round=N dirs BEFORE writing the new stamp —
        # otherwise a crash between this stamp and pagerank's first
        # checkpoint would leave old-graph rounds under a fresh
        # fingerprint, and the next resume would continue (or, when the
        # stale max round >= pr_rounds, return wholesale) the old
        # graph's ranks (r4 advisor, high).
        resume_state = resume and fp_fresh("pr_state")
        if not resume_state:
            fsio.delete(spark, f"{out_dir}/pr_state")
        fp_stamp("pr_state")
        ranks, log = pagerank(
            sym,
            tol=0.0,
            max_iter=pr_rounds,
            check_every=max(1, pr_rounds // 2),
            dangling_free=True,
            state_dir=f"{out_dir}/pr_state",
            resume=resume_state,
            partition_metrics=True,
        )
        write_parquet(ranks, pr_dir)
        fp_stamp("pagerank")
        fin(skipped=False, rounds=log.rounds)

    # ---- stage: connected components ---------------------------------
    fin = stage("components")
    cc_dir = f"{out_dir}/components"
    comp_table = None
    if resume and _done(spark, cc_dir) and fp_fresh("components"):
        fin(skipped=True)
    else:
        comp, log = connected_components(sym)
        write_parquet(comp, cc_dir)
        comp_table = local_table(comp)
        fp_stamp("components")
        fin(skipped=False, rounds=log.rounds)

    # ---- stage: label propagation -------------------------------------
    fin = stage("lpa")
    lpa_dir = f"{out_dir}/lpa"
    if resume and _done(spark, lpa_dir) and fp_fresh("lpa"):
        fin(skipped=True)
    else:
        labels, log = label_propagation(sym, max_iter=lpa_rounds)
        write_parquet(labels, lpa_dir)
        fp_stamp("lpa")
        fin(skipped=False, rounds=log.rounds)

    sym.unpersist()
    # a component's label is its minimum vertex, which is in the table
    # labelled with itself: one row per component, in either regime
    metrics["n_components"] = (
        spark.read.parquet(cc_dir).where("v = comp").count()
        if comp_table is None
        else pc.sum(pc.equal(comp_table["v"], comp_table["comp"])).as_py() or 0
    )
    fsio.write_text(spark, f"{out_dir}/metrics.json", json.dumps(metrics, indent=1))
    return metrics
