"""Benchmark command: one workload, one run, one JSON line at the end.

    python3 perfbench/run.py --workload analytic_sql --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. The run generates its inputs from
``--seed`` under ``.perfbench_work/`` in the checkout, starts a
``local[nproc]`` session, warms up (``setup_s``), checks the warm-up
results, then times whole passes of ops until ``--seconds`` of op time is
measured. ``--trace 1`` mixes plain and traced ops and reports the
per-layer metrics instead of the end-to-end ones. Every metric is printed
by name with its unit and sample count; the last line is the JSON result.
See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import sys
import tempfile
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
if str(ROOT) not in sys.path:
    sys.path.insert(0, str(ROOT))

from perfbench import workloads  # noqa: E402
from perfbench.trace import (  # noqa: E402
    Tracer,
    install_layer_wrappers,
    layer_report,
    read_event_log,
)


def driver_memory() -> str:
    """A third of the host's memory, at most 2g: the query data is under
    20 MB and the export under 100 MB, and the host is shared."""
    total_kb = next(
        int(line.split()[1])
        for line in Path("/proc/meminfo").read_text().splitlines()
        if line.startswith("MemTotal:")
    )
    return f"{max(1, min(2, total_kb // (3 * 1024 * 1024)))}g"


def configure_env(work: Path) -> None:
    """Keep every file the run writes inside ``work`` and make the checkout
    importable by Spark's Python workers."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    # every JVM (the launcher and the driver): temp files and no
    # hsperfdata under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p
    )


def start_session(work: Path, event_log: bool):
    from duva_spark.session import get_spark

    mem = driver_memory()
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        # a fixed heap (initial = max): G1 then makes no timing-dependent
        # expansion decisions, which made peak RSS vary by a quarter
        # from run to run
        "spark.driver.memory": mem,
        "spark.driver.extraJavaOptions": f"-Xms{mem}",
    }
    if event_log:
        (work / "eventlog").mkdir(exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": str(work / "eventlog"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return get_spark("perfbench", extra_conf=conf)


def stop_session(spark) -> None:
    """Stop Spark and wait for the driver JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


def peak_rss_mb() -> float:
    """Peak resident memory of this Python process plus the driver JVM."""
    from pyspark import SparkContext

    mb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        for line in Path(f"/proc/{proc.pid}/status").read_text().splitlines():
            if line.startswith("VmHWM:"):
                mb += int(line.split()[1]) / 1024.0
    return mb


def host_facts(spark) -> dict[str, object]:
    import pyspark

    sc = spark.sparkContext
    head = ROOT / ".git" / "HEAD"
    commit = "not a git checkout"
    if head.exists():
        ref = head.read_text().strip()
        commit = ref
        if ref.startswith("ref: ") and (ROOT / ".git" / ref[5:]).exists():
            commit = (ROOT / ".git" / ref[5:]).read_text().strip()
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "defaultParallelism": sc.defaultParallelism,
        "master": sc.master,
        "driver_memory": sc.getConf().get("spark.driver.memory"),
        "pyspark": pyspark.__version__,
        "commit": commit,
    }


def run(
    name: str,
    seed: int,
    seconds: float,
    trace: bool,
    work: Path,
    session,
    scale: workloads.Scale = workloads.FULL,
) -> dict:
    """One benchmark run. ``session(work, event_log)`` returns the
    SparkSession, which the caller stops."""
    wl = workloads.make(name)
    out = workloads.Outcome()
    wl.prepare(work, seed, scale)

    t0 = time.perf_counter()
    spark = session(work, trace)
    out.session_start_s = time.perf_counter() - t0
    wl.setup(spark)
    out.setup_s = time.perf_counter() - t0

    wl.verify_once(out)
    tracer = Tracer(spark)
    if trace:
        install_layer_wrappers(tracer)
    try:
        workloads.measure(wl, seconds, tracer, trace, out)
    finally:
        tracer.unwrap_all()
    wl.finish(out)

    result = {"out": out, "host": host_facts(spark)}
    if trace:
        sc = spark.sparkContext
        jobs, stages = read_event_log(
            sc.getConf().get("spark.eventLog.dir"), sc.applicationId, tracer.spans
        )
        layers, table = layer_report(tracer.spans, jobs, stages, sc.defaultParallelism)
        plain = [o.seconds for o in out.ops if not o.traced]
        traced = [o.seconds for o in out.ops if o.traced]
        layers["trace.overhead"] = (sum(traced) / len(traced)) / (sum(plain) / len(plain)) - 1
        layers["session.start_s"] = out.session_start_s
        layers["sinks.files_written"] = out.files_written
        layers["sinks.stored_bytes_ratio"] = out.stored_bytes_ratio or 0.0
        result["per_layer"] = layers
        result["table"] = table
        result["n_traced"] = len(traced)
    else:
        result["end_to_end"] = workloads.end_to_end(out, peak_rss_mb())
    return result


PER_LAYER_UNITS = {
    "catalog.loads": "count",
    "catalog.jobs": "count",
    "queries.build_jobs": "count",
    "queries.action_jobs": "count",
    "sources.csv_scans": "count",
    "sinks.files_written": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.failed_tasks": "count",
    "spark.busy_ratio": "ratio",
    "unattributed_share": "ratio",
    "trace.overhead": "ratio",
    "sinks.stored_bytes_ratio": "ratio",
}


def unit_of(metric: str) -> str:
    if metric in PER_LAYER_UNITS:
        return PER_LAYER_UNITS[metric]
    return "bytes" if metric.endswith("_bytes") or metric.endswith("bytes_written") else "s"


def report(name: str, r: dict, trace: bool) -> dict:
    """Print the human-readable lines and return the JSON result."""
    out: workloads.Outcome = r["out"]
    facts = " ".join(f"{k}={v}" for k, v in r["host"].items())
    print(f"host {facts}")
    print(f"workload {name}: attempted={out.attempted} failed={out.failed} "
          f"error_rate={out.failed / out.attempted:.4f} ratio")
    if out.stored_bytes_ratio is not None:
        print(f"stored_bytes_ratio = {out.stored_bytes_ratio:.4f} ratio (n=1)")
    metrics: dict[str, dict] = {}
    if trace:
        n = r["n_traced"]
        print(f"{'layer':22s} {'s/op':>9s} {'share':>7s} {'jobs/op':>8s} "
              f"{'stages/op':>9s} {'task_s/op':>9s}")
        for layer, s, share, jobs, stages, task_s in r["table"]:
            if not (s or jobs):
                continue  # a layer this workload does not cross
            print(f"{layer:22s} {s:9.4f} {share:7.1%} {jobs:8.2f} {stages:9.2f} {task_s:9.3f}")
        for k, v in r["per_layer"].items():
            unit = unit_of(k)
            print(f"{k} = {v:.6g} {unit} (n={n})")
            metrics[k] = {"value": v, "unit": unit}
    else:
        for k, (v, unit, n) in r["end_to_end"].items():
            print(f"{k} = {v:.6g} {unit} (n={n})")
            metrics[k] = {"value": v, "unit": unit}
    return {
        "correct": out.failed == 0,
        "attempted": out.attempted,
        "failed": out.failed,
        "metrics": metrics,
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=workloads.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not (ROOT / "duva_spark" / "__init__.py").exists():
        print(f"no duva_spark package under {ROOT}: run from a full checkout", file=sys.stderr)
        return 2

    work = ROOT / ".perfbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    work.mkdir(parents=True)
    configure_env(work)
    started = []

    def session(w: Path, event_log: bool):
        started.append(start_session(w, event_log))
        return started[-1]

    try:
        r = run(args.workload, args.seed, args.seconds, bool(args.trace), work, session)
        line = report(args.workload, r, bool(args.trace))
    finally:
        for spark in started:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(line))
    return 0


if __name__ == "__main__":
    sys.exit(main())
