"""The three benchmark workloads: inputs, reference, setup, job, check.

Every workload generates its input from the seed with the engine's own
seeded generators (``sources/pages.make_pages``,
``sources/synth.powerlaw_edges``) run in this process, caches it as
parquet per seed, and computes its reference once from that parquet
with ``reference.py``.
A job calls the engine through module attributes, so a traced run's
wrappers (``ledger.Tracer.patched``) reach every layer call.

Sizes are set so that one run of each workload, with its JVM start,
set-ups and one cold job, fits the benchmark's time budget on a 4-core
box; see README.md.
"""

from __future__ import annotations

import hashlib
import shutil
from dataclasses import dataclass
from pathlib import Path
from types import SimpleNamespace

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import reference as ref

ROOT = Path(__file__).resolve().parent.parent
# cached inputs are keyed on the generators' source and this file's, so
# a change to either regenerates instead of reusing stale data
GENERATOR_SOURCES = [
    ROOT / "trianglecount_spark/sources/pages.py",
    ROOT / "trianglecount_spark/sources/synth.py",
    Path(__file__),
]

PIPELINE_PR_ROUNDS, PIPELINE_PR_CHECK = 10, 5  # run_pipeline defaults
PIPELINE_LPA_ROUNDS, LPA_CHECK = 5, 4
TC_PR_ROUNDS, TC_PR_CHECK = 10, 4


def input_key(w: "Workload", seed: int) -> str:
    """Cache key of one generated input: generator source, sizes, seed."""
    h = hashlib.sha256(repr(w).encode("utf-8"))
    for p in GENERATOR_SOURCES:
        h.update(p.read_bytes())
    return f"{w.name}-{seed}-{h.hexdigest()[:12]}"


class _InProcess:
    """Stands in for the SparkSession the engine's seeded generators take.
    They only call ``range(0, n, 1, parts).mapInPandas(fn, schema)``, and
    their rows depend on the id alone, so running ``fn`` here on every id
    as one pandas batch yields the rows a Spark run would, without a JVM
    whose warm-up would then differ between cached and generated runs."""

    def range(self, start: int, end: int, step: int, n_partitions: int):
        ids = pd.DataFrame({"id": np.arange(start, end, step, dtype=np.int64)})
        return SimpleNamespace(
            mapInPandas=lambda fn, schema: pd.concat(list(fn(iter([ids]))), ignore_index=True)
        )


def input_table(df: pd.DataFrame) -> pa.Table:
    """A generated input as the table Spark reads back; naive timestamps
    are UTC, as in the engine's sessions."""
    table = pa.Table.from_pandas(df, preserve_index=False)
    for i, f in enumerate(table.schema):
        if pa.types.is_timestamp(f.type):
            table = table.set_column(i, f.name, table.column(i).cast(pa.timestamp("us", "UTC")))
    return table


INPUT_FILES = 4  # the input's read partitions, as a 4-partition generator run writes


def write_input(df: pd.DataFrame, path: Path) -> None:
    """Writes a generated input as a parquet directory of contiguous
    row ranges, one file each."""
    table = input_table(df)
    path.mkdir(parents=True)
    bounds = np.linspace(0, table.num_rows, INPUT_FILES + 1).astype(int)
    for i, (lo, hi) in enumerate(zip(bounds[:-1], bounds[1:])):
        pq.write_table(table.slice(lo, hi - lo), str(path / f"part-{i:05d}.parquet"))
    (path / "_SUCCESS").touch()


def _read(path: Path, columns: list[str] | None = None):
    return pq.read_table(str(path), columns=columns)


def _np(table, col: str) -> np.ndarray:
    return table.column(col).to_numpy()


def input_fingerprint(table) -> dict:
    """Row count plus an order-independent content hash: the wrapping
    uint64 sum of a per-row digest (duplicates do not cancel)."""
    acc = 0
    for batch in table.to_batches():
        cols = [c.to_pylist() for c in batch.columns]
        for row in zip(*cols):
            d = hashlib.blake2b(repr(row).encode("utf-8"), digest_size=8).digest()
            acc = (acc + int.from_bytes(d, "little")) & 0xFFFFFFFFFFFFFFFF
    return {"rows": table.num_rows, "hash": f"{acc:016x}"}


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    confs: tuple = ()
    # span the benchmark opens around the whole job in a traced run
    root_layer: str | None = None

    # --- inputs --------------------------------------------------------
    def generate(self, seed: int) -> pd.DataFrame:
        raise NotImplementedError

    def build_reference(self, data: Path) -> dict:
        raise NotImplementedError

    # --- measured part --------------------------------------------------
    def setup(self, spark, data: Path):
        df = spark.read.parquet(str(data)).cache()
        df.count()
        return df

    def job(self, spark, inp, out: Path):
        raise NotImplementedError

    def release(self, result) -> None:
        """Drops what a job left cached; runs after the timed region."""

    def check(self, result, out: Path, want: dict) -> ref.Check:
        raise NotImplementedError


def _pages_reference(data: Path) -> dict:
    t = _read(data, ["url", "html"])
    src_u, dst_u = ref.mine_links(t.column("url").to_pylist(), t.column("html").to_pylist())
    keys, s, d = ref.url_dictionary(src_u, dst_u)
    ss, sd = ref.canonical(s, d)
    return {"urls": keys, "mined_src": s, "mined_dst": d, "sym_src": ss, "sym_dst": sd}


def _sorted_pairs(src: np.ndarray, dst: np.ndarray) -> list:
    """The edge multiset as a sorted list, for an exact comparison."""
    order = np.lexsort((dst, src))
    return np.stack([src[order], dst[order]], axis=1).tolist()


def _check_dictionary(c: ref.Check, path: Path, want: dict) -> None:
    t = _read(path, ["url", "vid"])
    vid = _np(t, "vid")
    order = np.argsort(vid, kind="stable")
    c.equal("dictionary.vids", vid[order].tolist(), list(range(len(want["urls"]))))
    urls = t.column("url").to_pylist()
    c.equal("dictionary.urls", [urls[i] for i in order], want["urls"])


@dataclass(frozen=True)
class WebPipeline(Workload):
    n_pages: int = 0

    def generate(self, seed):
        from trianglecount_spark.sources.pages import make_pages

        return make_pages(_InProcess(), n_pages=self.n_pages,
                          n_sites=max(1, self.n_pages // 30), seed=seed, n_partitions=1)

    def build_reference(self, data):
        r = _pages_reference(data)
        ss, sd = r["sym_src"], r["sym_dst"]
        r["triangles"] = ref.triangle_total(ss, sd)
        r["pr_v"], r["pr"] = ref.pagerank(ss, sd, PIPELINE_PR_ROUNDS, PIPELINE_PR_CHECK)
        r["cc_v"], r["cc"] = ref.components(ss, sd)
        r["lpa_v"], r["lpa"] = ref.label_propagation(ss, sd, PIPELINE_LPA_ROUNDS, LPA_CHECK)
        return r

    def job(self, spark, pages, out):
        from trianglecount_spark.plans import pipeline

        return pipeline.run_pipeline(spark, pages, str(out))

    def check(self, metrics, out, want):
        c = ref.Check()
        c.equal("n_vertices", metrics["n_vertices"], len(want["urls"]))
        c.equal("n_und_edges", metrics["n_und_edges"], len(want["sym_src"]) // 2)
        c.equal("n_triangles", metrics["n_triangles"], want["triangles"])
        e = _read(out / "edges")
        c.equal("mined_edges", _sorted_pairs(_np(e, "src"), _np(e, "dst")),
                _sorted_pairs(want["mined_src"], want["mined_dst"]))
        _check_dictionary(c, out / "vertices", want)
        p = _read(out / "pagerank")
        c.vertex_values("pagerank", _np(p, "v"), _np(p, "rank"), want["pr_v"], want["pr"],
                        rel=ref.PR_REL_TOL)
        cc = _read(out / "components")
        c.vertex_values("components", _np(cc, "v"), _np(cc, "comp"), want["cc_v"], want["cc"])
        lp = _read(out / "lpa")
        c.vertex_values("lpa", _np(lp, "v"), _np(lp, "label"), want["lpa_v"], want["lpa"])
        return c


@dataclass(frozen=True)
class WebBuildShuffle(Workload):
    n_pages: int = 0

    generate = WebPipeline.generate

    def build_reference(self, data):
        r = _pages_reference(data)
        r["canonical"] = ref.edge_fingerprint(r["sym_src"], r["sym_dst"])
        return r

    def job(self, spark, pages, out):
        from trianglecount_spark.functions import extract
        from trianglecount_spark.operators import canonicalize

        handles: list = []
        e, verts = extract.edges_from_pages(pages, handles=handles)
        # dictionary vids are dense from 0, far below 2^31: the packed
        # form is legal, the same rule run_pipeline applies
        sym = canonicalize.canonicalize_edges_packed(e)
        sym.write.mode("overwrite").parquet(str(out / "canonical"))
        verts.write.mode("overwrite").parquet(str(out / "vertices"))
        return handles

    def release(self, handles):
        for h in handles:
            h.unpersist(blocking=True)

    def check(self, handles, out, want):
        c = ref.Check()
        t = _read(out / "canonical")
        c.equal("canonical_edges", ref.edge_fingerprint(_np(t, "src"), _np(t, "dst")),
                want["canonical"])
        _check_dictionary(c, out / "vertices", want)
        return c


@dataclass(frozen=True)
class PowerlawTC(Workload):
    n_edges: int = 0
    n_vertices: int = 0
    skew: float = 2.0

    def generate(self, seed):
        from trianglecount_spark.sources.synth import powerlaw_edges

        return powerlaw_edges(_InProcess(), self.n_edges, self.n_vertices, self.skew,
                              seed=seed, n_partitions=1)

    def build_reference(self, data):
        t = _read(data)
        ss, sd = ref.canonical(_np(t, "src"), _np(t, "dst"))
        pr_v, pr = ref.pagerank(ss, sd, TC_PR_ROUNDS, TC_PR_CHECK)
        return {"triangles": ref.triangle_total(ss, sd), "pr_v": pr_v, "pr": pr}

    def job(self, spark, edges, out):
        from trianglecount_spark.operators import canonicalize, pagerank, triangles

        sym = canonicalize.canonicalize_edges(edges).persist()
        tri = triangles.triangle_count_arrays(canonicalize.orient(sym))
        ranks, _ = pagerank.pagerank(sym, tol=0.0, max_iter=TC_PR_ROUNDS,
                                     check_every=TC_PR_CHECK, dangling_free=True,
                                     broadcast_state="auto")
        return sym, tri, ranks.toArrow()

    def release(self, result):
        result[0].unpersist(blocking=True)

    def check(self, result, out, want):
        _, tri, ranks = result
        c = ref.Check()
        c.equal("n_triangles", tri, want["triangles"])
        c.vertex_values("pagerank", _np(ranks, "v"), _np(ranks, "rank"), want["pr_v"],
                        want["pr"], rel=ref.PR_REL_TOL)
        return c


WORKLOADS = {
    w.name: w
    for w in (
        WebPipeline(
            name="web_pipeline",
            why="run_pipeline on seeded pages: the job users run; iterative layers dominate",
            root_layer="pipeline",
            n_pages=5_000,
        ),
        WebBuildShuffle(
            name="web_build_shuffle",
            why="extract + canonicalize with broadcast joins off: the dictionary plan at crawl scale",
            confs=(("spark.sql.autoBroadcastJoinThreshold", "-1"),),
            n_pages=20_000,
        ),
        PowerlawTC(
            name="powerlaw_tc",
            why="dense power-law graph: triangle counting and in-memory PageRank, no extraction",
            n_edges=300_000,
            n_vertices=3_000,
        ),
    )
}


def fresh_dir(path: Path) -> None:
    shutil.rmtree(path, ignore_errors=True)
    path.mkdir(parents=True)
