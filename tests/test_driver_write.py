"""Resident results written on the driver (``iterative.write_parquet`` →
``fsio.write_table``) read back as Spark's own writer would have left
them, keep the ``_SUCCESS`` marker rule, and a fitting pipeline runs no
Spark write job."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import DataFrameReader, DataFrameWriter
from pyspark.sql.types import DoubleType, IntegerType, StructField, StructType

from tests.conftest import GOLDEN, cross_edges, edges_df
from tests.test_plans import SF
from trianglecount_spark.operators import regime
from trianglecount_spark.operators.components import connected_components
from trianglecount_spark.operators.iterative import (
    _last_complete_round,
    local_frame,
    local_table,
    write_parquet,
)
from trianglecount_spark.operators.lpa import label_propagation
from trianglecount_spark.operators.pagerank import pagerank
from trianglecount_spark.plans import pipeline
from trianglecount_spark.sources import fsio


def _data_files(path: str) -> list[str]:
    return sorted(n for n in os.listdir(path) if not n.startswith((".", "_")))


def _rows(spark, path: str) -> list:
    return sorted(spark.read.parquet(path).collect())


def _op_result(op, graph, shrunk=False):
    def make(spark, monkeypatch):
        e = (
            spark.createDataFrame([], "src long, dst long")
            if graph is None
            else cross_edges(spark, graph)
        )
        with monkeypatch.context() as m:
            if shrunk:  # the distributed plans' own empty result
                m.setattr(regime, "BYTE_LIMIT", -1)
                m.setattr(regime, "ROW_LIMIT", -1)
            return op(e)[0]

    return make


def _typed_lists(spark, monkeypatch):
    # Python ints under IntegerType: Arrow would infer int64
    schema = StructType([StructField("v", IntegerType()), StructField("x", DoubleType())])
    return local_frame(spark, schema, [[3, 1], [0.5, 0.25]])


RESULTS = {
    # int-typed ids, string ids, doubles, and empty results
    "components_int_ids": _op_result(connected_components, "int_columns"),
    "lpa_string_ids": _op_result(label_propagation, "string_ids"),
    "pagerank_doubles": _op_result(pagerank, "hub"),
    "pagerank_empty": _op_result(pagerank, None),
    "components_empty": _op_result(connected_components, None),
    "lpa_empty": _op_result(label_propagation, None),
    "pagerank_empty_shuffle": _op_result(pagerank, None, shrunk=True),
    "lpa_empty_shuffle": _op_result(label_propagation, None, shrunk=True),
    "typed_lists": _typed_lists,
}


@pytest.mark.parametrize("name", sorted(RESULTS))
def test_driver_write_reads_back_as_spark_write(spark, tmp_path, monkeypatch, name):
    df = RESULTS[name](spark, monkeypatch)
    assert local_table(df) is not None  # a driver-side result
    ours, theirs = str(tmp_path / "driver"), str(tmp_path / "spark")
    write_parquet(df, ours)
    df.write.mode("overwrite").parquet(theirs)
    assert _data_files(ours) == [fsio.PART_FILE]
    assert os.path.exists(f"{ours}/_SUCCESS")
    assert spark.read.parquet(ours).schema == spark.read.parquet(theirs).schema
    assert _rows(spark, ours) == _rows(spark, theirs)
    if name in ("components_int_ids", "typed_lists"):
        assert spark.read.parquet(ours).schema["v"].dataType == IntegerType()


def test_driver_write_overwrites_every_part_file(spark, tmp_path):
    out = str(tmp_path / "t")
    edges_df(spark, GOLDEN["k5"][0]).repartition(4).write.parquet(out)
    assert len(_data_files(out)) > 1
    df = local_frame(spark, edges_df(spark, []).schema, [[7], [8]])
    write_parquet(df, out)
    assert _data_files(out) == [fsio.PART_FILE]
    assert [tuple(r) for r in _rows(spark, out)] == [(7, 8)]


def test_driver_write_to_a_file_uri(spark, tmp_path):
    uri = (tmp_path / "uri_out").as_uri()
    assert uri.startswith("file:")
    df = local_frame(spark, edges_df(spark, []).schema, [[1, 2], [2, 3]])
    write_parquet(df, uri)
    assert fsio.exists(spark, f"{uri}/_SUCCESS")
    assert [tuple(r) for r in _rows(spark, uri)] == [(1, 2), (2, 3)]


def test_driver_write_streams_bounded_chunks(spark, tmp_path, monkeypatch):
    """The part file crosses to the JVM in pieces of at most
    ``CHUNK_BYTES``, never as one byte array."""
    import numpy as np

    sizes = []

    class Recording:
        def __init__(self, out):
            self.out = out

        def write(self, data):
            sizes.append(len(data))
            self.out.write(data)

    init = fsio._ChunkedSink.__init__
    monkeypatch.setattr(fsio._ChunkedSink, "__init__", lambda self, out: init(self, Recording(out)))
    monkeypatch.setattr(fsio, "CHUNK_BYTES", 4096)
    ids = np.random.default_rng(0).integers(0, 1 << 62, size=(2, 20_000))
    df = local_frame(spark, edges_df(spark, []).schema, list(ids))
    out = str(tmp_path / "t")
    write_parquet(df, out)
    assert len(sizes) > 10 and max(sizes) <= 4096
    back = spark.read.parquet(out).toArrow()
    assert back.column("src").to_pylist() == ids[0].tolist()
    assert back.column("dst").to_pylist() == ids[1].tolist()


def crash_before_marker(m) -> None:
    """Under the monkeypatch context ``m``, ``fsio.write_table`` dies
    after its part file, before ``_SUCCESS``."""
    write_part = fsio._write_part

    def crash(fs, path, table):
        write_part(fs, path, table)
        raise RuntimeError("simulated crash before _SUCCESS")

    m.setattr(fsio, "_write_part", crash)


def test_crash_before_marker_leaves_no_resumable_round(spark, tmp_path, monkeypatch):
    """A round the driver writer left without ``_SUCCESS`` is skipped by
    resume, and a stage dir without it is not done."""
    sym = edges_df(spark, GOLDEN["bowtie"][0])
    state_dir = str(tmp_path / "state")
    pagerank(sym, tol=0.0, max_iter=4, check_every=4, state_dir=state_dir)
    assert _last_complete_round(spark, state_dir) == 3
    with monkeypatch.context() as m:
        crash_before_marker(m)
        with pytest.raises(RuntimeError, match="before _SUCCESS"):
            pagerank(sym, tol=0.0, max_iter=8, check_every=4, state_dir=state_dir,
                     resume=True)
    assert _data_files(f"{state_dir}/round=7") == [fsio.PART_FILE]
    assert _last_complete_round(spark, state_dir) == 3
    stage_dir = str(tmp_path / "stage")
    with monkeypatch.context() as m:
        crash_before_marker(m)
        with pytest.raises(RuntimeError, match="before _SUCCESS"):
            write_parquet(local_frame(spark, sym.schema, [[0], [1]]), stage_dir)
    assert _data_files(stage_dir) == [fsio.PART_FILE]
    assert not pipeline._done(spark, stage_dir)


def test_fitting_pipeline_writes_from_the_driver(spark, tmp_path, monkeypatch):
    """A pipeline whose graph fits runs no Spark write job: every stage
    dir and check round is one part file plus ``_SUCCESS``, and the
    mined links and the edges file are the two tables collected to the
    driver."""
    from trianglecount_spark.sources.pages import make_pages

    pages = make_pages(spark, n_pages=300, n_sites=20)
    out = str(tmp_path / "run")
    frame_cls = type(pages)  # the session's DataFrame class

    def no_spark_write(self, *a, **kw):
        raise AssertionError("DataFrameWriter.parquet in a fitting pipeline")

    collects = []
    to_arrow = frame_cls.toArrow

    def counting(self):
        collects.append(self)
        return to_arrow(self)

    assert isinstance(pages.write, DataFrameWriter)
    monkeypatch.setattr(DataFrameWriter, "parquet", no_spark_write)
    monkeypatch.setattr(frame_cls, "toArrow", counting)
    m = pipeline.run_pipeline(spark, pages, out, pr_rounds=4, lpa_rounds=2)
    monkeypatch.undo()
    assert m["stages"]["edges"]["regime"] == "resident"
    assert len(collects) == 2
    dirs = ["edges", "vertices", "pagerank", "components", "lpa"]
    dirs += [f"pr_state/{d}" for d in os.listdir(f"{out}/pr_state")]
    assert len(dirs) == 7
    for d in dirs:
        assert _data_files(f"{out}/{d}") == [fsio.PART_FILE], d
        assert os.path.exists(f"{out}/{d}/_SUCCESS"), d
    assert m["n_vertices"] == spark.read.parquet(f"{out}/vertices").count()
    comps = spark.read.parquet(f"{out}/components")
    assert m["n_components"] == comps.where("v = comp").count()


def test_upsert_state_reads_no_missing_state(spark, monkeypatch):
    """``streamed_upsert_state``'s first batch starts from empty state
    without reading the not-yet-written state dir."""
    from trianglecount_spark.streaming.edges_stream import streamed_upsert_state

    missing = []
    read = DataFrameReader.parquet

    def checked(self, *paths, **kw):
        missing.extend(p for p in paths if not os.path.exists(p))
        return read(self, *paths, **kw)

    assert isinstance(spark.read, DataFrameReader)
    monkeypatch.setattr(DataFrameReader, "parquet", checked)
    got = streamed_upsert_state(spark, SF)
    assert got.count() > 0
    assert missing == []
