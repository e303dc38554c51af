"""Benchmark entry point: one workload, one seed, one run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Closed loop, one client: jobs run one at a time from this process
against a ``local[N]`` session, N = min(4, nproc), with a fixed 2 GB
driver heap. A run

1. makes (or loads from the per-seed cache) the workload's input,
   refusing to run if a pinned input fingerprint drifted (``pins.json``);
2. computes the independent reference (``reference.py``), untimed;
3. starts the driver JVM and sets up ``SETUPS`` times (fresh session
   on the running JVM, input load, cache), reporting the median as
   ``setup_s``;
4. runs jobs back to back until ``--seconds`` have passed (at least
   one), checking every job against the reference.

With ``--trace 0`` the last line carries the end-to-end metrics. With
``--trace 1`` the run then starts a second JVM with the Spark event log
on, sets up the same way and runs the first job traced; the last line
carries the per-layer ledger (``ledger.py``). The line before it is a
record of the run: machine, versions, input fingerprint, every sample.
All files go under ``.perfbench_work/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import sys
import time
import traceback
from contextlib import nullcontext
from dataclasses import dataclass, field
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench_work"  # every file a run writes
SETUPS = 3
DRIVER_MEM = "2g"
MAX_CORES = 4


def _cores() -> int:
    return max(1, min(MAX_CORES, len(os.sched_getaffinity(0))))


def session(wl, cores: int, work: Path, trace: bool = False):
    """A ``local[cores]`` engine session with an explicit heap, console
    progress off and every scratch file under ``work``."""
    from trianglecount_spark.session import get_spark

    confs = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": str(work / "spark-local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEM} -Djava.io.tmpdir={work / 'tmp'}",
        **dict(wl.confs),
    }
    if trace:
        confs.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": (work / "eventlog").as_uri(),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return get_spark(app_name=f"perfbench-{wl.name}", cores=cores,
                     driver_memory=DRIVER_MEM, extra_confs=confs)


def stop_jvm(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for it to exit;
    the next session in this process launches a fresh JVM."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway  # noqa: SLF001
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.terminate()
            proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None  # noqa: SLF001


def _peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()  # noqa: SLF001
    with open(f"/proc/{pid}/status", encoding="ascii") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


def _git_commit() -> str | None:
    head = ROOT / ".git" / "HEAD"
    if not head.exists():
        return None
    ref = head.read_text().strip()
    if not ref.startswith("ref: "):
        return ref
    path = ROOT / ".git" / ref[5:]
    if path.exists():
        return path.read_text().strip()
    packed = ROOT / ".git" / "packed-refs"
    for line in packed.read_text().splitlines() if packed.exists() else []:
        if line.endswith(" " + ref[5:]):
            return line.split()[0]
    return None


def _machine(spark) -> dict:
    import pyspark

    with open("/proc/meminfo", encoding="ascii") as f:
        mem_kb = int(f.readline().split()[1])
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "ram_gb": round(mem_kb / (1 << 20), 1),
        "spark": spark.version,
        "pyspark": pyspark.__version__,
        "java": spark.sparkContext._jvm.java.lang.System.getProperty("java.version"),  # noqa: SLF001
        "python": platform.python_version(),
        "commit": _git_commit(),
    }


def ensure_input(wl, seed: int, work: Path) -> Path:
    """The workload's generated input as parquet, cached per seed."""
    from perfbench.workloads import input_key, write_input

    data = work / "inputs" / input_key(wl, seed)
    if not (data / "_SUCCESS").exists():
        tmp = data.with_name(data.name + ".tmp")
        shutil.rmtree(tmp, ignore_errors=True)
        write_input(wl.generate(seed), tmp)
        shutil.rmtree(data, ignore_errors=True)
        tmp.rename(data)
    return data


PINS = Path(__file__).with_name("pins.json")


def _pin_status(wl, seed: int, fp: dict) -> bool:
    """True if this (workload, seed) is pinned; raises on drift."""
    pins = json.loads(PINS.read_text())
    want = pins.get(wl.name, {}).get(str(seed))
    if want is None:
        return False
    if want != fp:
        raise SystemExit(
            f"input drift for {wl.name} seed {seed}: pinned {want}, generated {fp}; "
            "a change under sources/ altered the workload (re-pin with perfbench/pin.py "
            "only if that is intended)"
        )
    return True


def _bounds() -> dict:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return {m["name"]: m["bound"] for m in spec["end_to_end"]}


def _metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


@dataclass
class _Jobs:
    """Runs and checks jobs against one reference; counts outcomes."""

    wl: object
    want: dict
    out: Path
    attempted: int = 0
    failed: int = 0
    errors: list = field(default_factory=list)

    def one(self, spark, inp, tracer=None) -> float | None:
        """Wall seconds of one checked job, or None if it failed."""
        from perfbench.workloads import fresh_dir

        wl = self.wl
        self.attempted += 1
        fresh_dir(self.out)
        try:
            with tracer.patched() if tracer else nullcontext():
                t = time.perf_counter()
                with tracer.span(wl.root_layer) if tracer and wl.root_layer else nullcontext():
                    result = wl.job(spark, inp, self.out)
                dt = time.perf_counter() - t
            wl.release(result)
            if tracer:
                tracer.release()
            check = wl.check(result, self.out, self.want)
        except Exception:  # a job that raises is a failed job, not a crash
            self.failed += 1
            self.errors.append(traceback.format_exc(limit=4))
            return None
        if not check.ok:
            self.failed += 1
            self.errors.extend(check.errors)
            return None
        return dt


def _set_up(spark, wl, cores: int, work: Path, data: Path, trace: bool):
    """``SETUPS`` times: fresh session on the running JVM, load, cache.
    Returns the last session, its cached input and every set-up time."""
    times = []
    for _ in range(SETUPS):
        spark.stop()
        t0 = time.perf_counter()
        spark = session(wl, cores, work, trace)
        inp = wl.setup(spark, data)
        times.append(time.perf_counter() - t0)
    return spark, inp, times


def run(wl, seed: int, seconds: float, trace: bool, work: Path = WORK) -> tuple[dict, dict]:
    """One run of workload ``wl``: returns (record, result line).

    Every measured job is the first job of a fresh driver JVM after
    set-up, as a spark-submit of the job runs it. A traced run measures
    that untraced job, then starts a second JVM with the event log on and
    measures the same job traced, so ``trace.overhead_s`` compares two
    jobs in the same position."""
    import pyarrow.parquet as pq

    from perfbench import ledger
    from perfbench.workloads import input_fingerprint

    cores = _cores()
    record: dict = {"workload": wl.name, "seed": seed, "trace": trace, "cores": cores,
                    "driver_memory": DRIVER_MEM}
    data = ensure_input(wl, seed, work)
    fp = input_fingerprint(pq.read_table(str(data)))
    record["input"] = fp
    record["pinned"] = _pin_status(wl, seed, fp)
    t0 = time.perf_counter()
    jobs = _Jobs(wl, wl.build_reference(data), work / "out" / wl.name)
    record["reference_s"] = time.perf_counter() - t0

    t0 = time.perf_counter()
    spark = session(wl, cores, work)
    record["jvm_start_s"] = time.perf_counter() - t0
    try:
        record.update(_machine(spark))
        spark, inp, setups = _set_up(spark, wl, cores, work, data, trace=False)
        plain = []
        start = time.perf_counter()
        while not jobs.failed:
            plain.append(jobs.one(spark, inp))
            if time.perf_counter() - start >= seconds:
                break
        record["peak_rss_mb"] = _peak_rss_mb(spark)
        if trace and not jobs.failed:
            stop_jvm(spark)
            shutil.rmtree(work / "eventlog", ignore_errors=True)
            (work / "eventlog").mkdir(parents=True)
            spark = session(wl, cores, work, trace=True)
            spark, inp, _ = _set_up(spark, wl, cores, work, data, trace=True)
            tracer = ledger.Tracer(spark.sparkContext)
            traced = jobs.one(spark, inp, tracer)
            app_id = spark.sparkContext.applicationId
    finally:
        stop_jvm(spark)

    record.update(setup_s=setups, job_s=plain, errors=jobs.errors)
    metrics: dict = {}
    if jobs.failed:
        pass
    elif not trace:
        metrics = {
            "job_s": _metric(statistics.median(plain), "s"),
            "setup_s": _metric(statistics.median(setups), "s"),
            "peak_rss_mb": _metric(record["peak_rss_mb"], "MB"),
        }
        record["samples"] = {"job_s": len(plain), "setup_s": len(setups), "peak_rss_mb": 1}
    else:
        record["traced_job_s"] = traced
        values = ledger.job_ledger(
            tracer.spans, ledger.read_event_log(str(work / "eventlog" / app_id)), traced
        )
        values["trace.overhead_s"] = traced - statistics.median(plain)
        tolerance = _bounds()["job_s"]
        if abs(values["trace.unattributed_s"]) > tolerance * traced:
            jobs.failed += 1
            jobs.errors.append(
                f"ledger does not reconcile: {values['trace.unattributed_s']:.3f} s of the "
                f"{traced:.3f} s traced job is outside every span (tolerance {tolerance:.0%})"
            )
        metrics = {name: _metric(v, ledger.unit(name)) for name, v in sorted(values.items())}
        record["samples"] = {"traced_jobs": 1, "untraced_jobs": len(plain)}
        record["spans"] = [vars(s) for s in tracer.spans]
    result = {
        "correct": jobs.failed == 0,
        "attempted": jobs.attempted,
        "failed": jobs.failed,
        "metrics": metrics,
    }
    return record, result


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    # everything the run writes stays in the checkout
    for d in ("tmp", "spark-local", "runs"):
        (WORK / d).mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(WORK / "tmp")
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    sys.path.insert(0, str(ROOT))
    import trianglecount_spark  # noqa: F401  fails fast outside a full checkout

    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        p.error(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
    record, result = run(WORKLOADS[args.workload], args.seed, args.seconds, bool(args.trace))
    name = f"{args.workload}-{args.seed}-trace{args.trace}.json"
    (WORK / "runs" / name).write_text(json.dumps({"record": record, "result": result}, indent=1))
    for e in record["errors"]:
        print(e, file=sys.stderr)
    print(json.dumps({k: v for k, v in record.items() if k != "spans"}))
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
