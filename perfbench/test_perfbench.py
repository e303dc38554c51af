"""Tests of the benchmark itself.

    python3 -m pytest perfbench -q

The checker and ledger tests need no Spark. The smoke tests run each
workload at a tiny size through ``run.run`` (one JVM each, a few
minutes in all).
"""

from __future__ import annotations

import dataclasses
import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from perfbench import ledger, reference, run  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402

# Eight pages over two hosts: two triangles sharing an edge, a tail, a
# duplicate link, a self link and hrefs the miner must skip.
_LINKS = {
    "https://a.example/p0": ["/p1", "/p2", "https://b.example/p0", "/p1"],
    "https://a.example/p1": ["/p2", "/p1", "'/p3'"],
    "https://a.example/p2": ["https://b.example/p0", "ftp://x/y", ""],
    "https://b.example/p0": ["/p1"],
    "https://b.example/p1": ["/p2"],
    "https://b.example/p2": ["https://a.example/p3"],
    "https://a.example/p3": [],
    "https://b.example/p3": ["https://a.example/p0"],
}


def _pages(path: Path) -> Path:
    urls = list(_LINKS)
    html = [
        "".join(f'<a href="{h}">x</a>' if not h.startswith("'") else f"<a href={h}>x</a>"
                for h in hrefs).encode()
        for hrefs in _LINKS.values()
    ]
    pq.write_table(pa.table({"url": urls, "html": html}), str(path))
    return path


def _write(path: Path, **cols) -> None:
    pq.write_table(pa.table(cols), str(path))


def _engine_like_output(out: Path, want: dict) -> dict:
    """The outputs a correct web_pipeline job writes, built from ``want``."""
    out.mkdir(parents=True, exist_ok=True)
    _write(out / "edges", src=want["mined_src"], dst=want["mined_dst"])
    _write(out / "vertices", url=want["urls"], vid=np.arange(len(want["urls"])))
    _write(out / "pagerank", v=want["pr_v"], rank=want["pr"])
    _write(out / "components", v=want["cc_v"], comp=want["cc"])
    _write(out / "lpa", v=want["lpa_v"], label=want["lpa"])
    return {
        "n_vertices": len(want["urls"]),
        "n_und_edges": len(want["sym_src"]) // 2,
        "n_triangles": want["triangles"],
    }


@pytest.fixture()
def web(tmp_path):
    wl = WORKLOADS["web_pipeline"]
    want = wl.build_reference(_pages(tmp_path / "pages.parquet"))
    out = tmp_path / "out"
    metrics = _engine_like_output(out, want)
    return wl, want, out, metrics


def test_reference_on_hand_built_pages(web):
    _, want, _, _ = web
    assert want["urls"][:2] == ["https://a.example/p0", "https://a.example/p1"]
    # a0-a1-a2 and a0-a2-b0 are triangles; the skipped hrefs add nothing
    assert want["triangles"] == 2
    assert len(want["mined_src"]) == 11
    assert want["pr"].sum() == pytest.approx(1.0)
    assert set(want["cc"]) == {0}


def test_checker_accepts_a_correct_result(web):
    wl, want, out, metrics = web
    assert wl.check(metrics, out, want).errors == []


def test_checker_rejects_pagerank_off_by_1e5_relative(web):
    wl, want, out, metrics = web
    rank = want["pr"].copy()
    rank[3] *= 1 + 1e-7  # inside the relative tolerance
    _write(out / "pagerank", v=want["pr_v"], rank=rank)
    assert wl.check(metrics, out, want).ok
    rank[3] = want["pr"][3] * (1 + 1e-5)
    _write(out / "pagerank", v=want["pr_v"], rank=rank)
    errors = wl.check(metrics, out, want).errors
    assert errors == ["pagerank: 1 vertices differ"]


def test_checker_rejects_a_changed_lpa_label(web):
    wl, want, out, metrics = web
    label = want["lpa"].copy()
    label[0] += 1
    _write(out / "lpa", v=want["lpa_v"], label=label)
    assert wl.check(metrics, out, want).errors == ["lpa: 1 vertices differ"]


def test_checker_rejects_a_dropped_canonical_edge(tmp_path):
    wl = WORKLOADS["web_build_shuffle"]
    want = wl.build_reference(_pages(tmp_path / "pages.parquet"))
    out = tmp_path / "out"
    out.mkdir()
    _write(out / "vertices", url=want["urls"], vid=np.arange(len(want["urls"])))
    _write(out / "canonical", src=want["sym_src"], dst=want["sym_dst"])
    assert wl.check([], out, want).ok
    _write(out / "canonical", src=want["sym_src"][1:], dst=want["sym_dst"][1:])
    errors = wl.check([], out, want).errors
    assert len(errors) == 1 and errors[0].startswith("canonical_edges")


def test_lpa_reference_follows_the_check_every_stop_rule():
    # on a 4-cycle the labels flip between two states every round from
    # round 2 on; a check every 2 rounds sees no change after round 4 and
    # stops there, a check every 4 rounds never does and runs all 5
    s = np.array([0, 1, 1, 2, 2, 3, 3, 0])
    d = np.array([1, 0, 2, 1, 3, 2, 0, 3])
    _, every2 = reference.label_propagation(s, d, rounds=5, check_every=2)
    _, every4 = reference.label_propagation(s, d, rounds=5, check_every=4)
    assert every2.tolist() == [0, 1, 0, 1]
    assert every4.tolist() == [1, 0, 1, 0]


def _canned_event_log() -> list[str]:
    def stage_submitted(sid, group):
        return {"Event": "SparkListenerStageSubmitted",
                "Stage Info": {"Stage ID": sid, "Stage Attempt ID": 0},
                "Properties": {"spark.jobGroup.id": group} if group else {}}

    def stage_completed(sid, start, end):
        return {"Event": "SparkListenerStageCompleted",
                "Stage Info": {"Stage ID": sid, "Stage Attempt ID": 0,
                               "Submission Time": start, "Completion Time": end}}

    def task_end(sid, launch, finish, reason="Success", shuffle=0, spill=0, gc=0,
                 written=0, records=0):
        return {"Event": "SparkListenerTaskEnd", "Stage ID": sid, "Stage Attempt ID": 0,
                "Task End Reason": {"Reason": reason},
                "Task Info": {"Launch Time": launch, "Finish Time": finish,
                              "Failed": reason != "Success"},
                "Task Metrics": {"JVM GC Time": gc, "Disk Bytes Spilled": spill,
                                 "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle},
                                 "Output Metrics": {"Bytes Written": written,
                                                    "Records Written": records}}}

    events = [
        {"Event": "SparkListenerApplicationStart"},
        stage_submitted(0, None),  # outside any span: ignored
        task_end(0, 0, 5000, shuffle=1 << 30),
        stage_submitted(1, "j0:orient#1"),
        task_end(1, 1000, 1100, shuffle=1 << 20, gc=30),
        task_end(1, 1000, 1200, shuffle=1 << 20, spill=1 << 21),
        task_end(1, 1000, 1900, reason="ExceptionFailure", gc=70),
        stage_completed(1, 1000, 1900),
        stage_submitted(2, "j0:orient#1"),
        task_end(2, 2000, 2010),
        stage_completed(2, 2000, 2010),
        stage_submitted(3, "j0:pipeline#0"),
        task_end(3, 3000, 3100, written=3 << 20, records=42),
        stage_completed(3, 3000, 3100),
    ]
    return [json.dumps(e) + "\n" for e in events] + ["\n"]


def test_ledger_parses_a_canned_event_log():
    log = ledger.parse_event_log(_canned_event_log())
    spans = [
        ledger.Span("j0:pipeline#0", "pipeline", None, 0, start=0.0, end=9.0),
        ledger.Span("j0:orient#1", "orient", "j0:pipeline#0", 0, start=1.0, end=4.0,
                    rows_out=17),
    ]
    m = ledger.job_ledger(spans, log, wall=10.0)
    assert m["orient.s"] == 3.0 and m["pipeline.s"] == 6.0
    assert m["orient.tasks"] == 4 and m["orient.failed_tasks"] == 1
    assert m["orient.shuffle_write_mb"] == 2.0 and m["orient.spill_mb"] == 2.0
    assert m["orient.gc_s"] == pytest.approx(0.1)
    # longest stage is 1: task times 0.1, 0.2, 0.9 s
    assert m["orient.task_skew"] == pytest.approx(0.9 / 0.2)
    assert m["orient.rows_out"] == 17
    assert m["pipeline.rows_out"] == 42 and m["pipeline.write_mb"] == 3.0
    assert m["extract.tasks"] == 0 and m["extract.task_skew"] == 0.0
    assert m["trace.unattributed_s"] == pytest.approx(1.0)
    assert set(m) | {"trace.overhead_s"} == set(ledger.metric_names())


def test_benchmark_json_lists_every_ledger_metric():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == [
        (n, ledger.unit(n)) for n in ledger.metric_names()
    ]
    for w in spec["workloads"]:
        assert WORKLOADS[w["name"]].why == w["why"]


def test_pinned_input_drift_is_refused(tmp_path, monkeypatch):
    pins = tmp_path / "pins.json"
    pins.write_text(json.dumps({"powerlaw_tc": {"5": {"rows": 3, "hash": "00"}}}))
    monkeypatch.setattr(run, "PINS", pins)
    wl = WORKLOADS["powerlaw_tc"]
    assert run._pin_status(wl, 5, {"rows": 3, "hash": "00"}) is True
    assert run._pin_status(wl, 6, {"rows": 3, "hash": "01"}) is False
    with pytest.raises(SystemExit, match="input drift"):
        run._pin_status(wl, 5, {"rows": 3, "hash": "01"})


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(ROOT / "perfbench", tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "powerlaw_tc", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
        env={k: v for k, v in os.environ.items() if k != "PYTHONPATH"},
    )
    assert p.returncode != 0
    assert '"correct"' not in p.stdout


# ---------------------------------------------------------------------------
# smoke: tiny sizes, real engine
# ---------------------------------------------------------------------------

TINY = {
    "web_pipeline": {"n_pages": 300},
    "web_build_shuffle": {"n_pages": 300},
    "powerlaw_tc": {"n_edges": 3_000, "n_vertices": 200},
}


def _tiny(name: str):
    return dataclasses.replace(WORKLOADS[name], name=f"{name}_tiny", **TINY[name])


@pytest.fixture(scope="module")
def work(tmp_path_factory):
    w = tmp_path_factory.mktemp("perfbench")
    (w / "tmp").mkdir()
    (w / "spark-local").mkdir()
    return w


@pytest.mark.parametrize("name", list(WORKLOADS))
def test_smoke_traced_run(name, work):
    record, result = run.run(_tiny(name), seed=3, seconds=0, trace=True, work=work)
    assert result["correct"], record["errors"]
    assert result["attempted"] == 2 and result["failed"] == 0
    assert set(result["metrics"]) == set(ledger.metric_names())
    layers = {s["layer"] for s in record["spans"]}
    assert layers == {
        "web_pipeline": set(ledger.LAYERS),
        "web_build_shuffle": {"extract", "canonicalize"},
        "powerlaw_tc": {"canonicalize", "orient", "triangles", "pagerank"},
    }[name]
    for layer in layers:
        assert result["metrics"][f"{layer}.tasks"]["value"] > 0


def test_smoke_untraced_run(work):
    record, result = run.run(_tiny("powerlaw_tc"), seed=4, seconds=0, trace=False, work=work)
    assert result["correct"], record["errors"]
    assert set(result["metrics"]) == {"job_s", "setup_s", "peak_rss_mb"}
    assert record["samples"]["setup_s"] == run.SETUPS
    assert all(v["value"] > 0 for v in result["metrics"].values())
