"""Tests for the benchmark's own code, on tiny inputs (sf0.001 tables, a
2,000-row export). Run from the checkout root:

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import dataclasses
import json
import os
import shutil
import tempfile
from pathlib import Path

import pytest

from perfbench import datagen, run, workloads

ROOT = Path(__file__).resolve().parents[2]
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


@pytest.fixture(scope="module")
def bench_env(tmp_path_factory):
    """One Spark session with the event log on, shared by every run here;
    the environment ``configure_env`` sets is restored afterwards."""
    saved_env, saved_tmp = dict(os.environ), tempfile.tempdir
    work = tmp_path_factory.mktemp("session")
    run.configure_env(work)
    spark = run.start_session(work, event_log=True)
    yield spark, tmp_path_factory
    run.stop_session(spark)
    os.environ.clear()
    os.environ.update(saved_env)
    tempfile.tempdir = saved_tmp


def _run(bench_env, name: str, trace: bool = False, seed: int = 7) -> dict:
    spark, factory = bench_env
    work = factory.mktemp(name)
    try:
        return run.run(name, seed, 0.01, trace, work, lambda w, ev: spark, workloads.SMOKE)
    finally:
        shutil.rmtree(work, ignore_errors=True)


@pytest.mark.parametrize("name", workloads.WORKLOADS)
def test_smoke_run_is_correct_and_prints_every_metric_with_unit(bench_env, name, capsys):
    for trace, key in ((False, "end_to_end"), (True, "per_layer")):
        result = run.report(name, _run(bench_env, name, trace), trace)
        printed = capsys.readouterr().out
        assert result["correct"], printed
        assert result["failed"] == 0 and result["attempted"] >= 2
        assert {m["name"] for m in SPEC[key]} == set(result["metrics"])
        for m in SPEC[key]:
            got = result["metrics"][m["name"]]
            assert got["unit"] == m["unit"]
            assert f"{m['name']} = " in printed and f" {m['unit']} (n=" in printed
        json.dumps(result)  # the last line must serialise


def test_trace_spans_cover_op_wall(bench_env):
    r = _run(bench_env, "form_sync", trace=True)
    layers = r["per_layer"]
    assert layers["unattributed_share"] < 0.05
    assert layers["sinks.commit_s"] > 0 and layers["sources.infer_s"] > 0
    assert layers["sources.csv_scans"] >= 2  # schema inference plus the commit


def test_planted_wrong_result_counts_as_failed(bench_env, monkeypatch):
    from duva_spark.queries import REGISTRY, load_all

    load_all()
    name = "q06_forecast_revenue"
    real = REGISTRY[name]
    wrong = dataclasses.replace(real, fn=lambda spark, sf: real.fn(spark, sf).limit(0))
    monkeypatch.setitem(REGISTRY, name, wrong)
    r = _run(bench_env, "analytic_sql")
    out = r["out"]
    # the warm-up check and every timed op of the planted query fail
    assert out.failed >= 2
    assert out.failed == sum(1 for o in out.ops if not o.ok) + out.check_failures
    assert run.report("analytic_sql", r, False)["correct"] is False


def test_header_only_export_must_not_replace_the_commit(bench_env, monkeypatch):
    """If the sync path stopped rejecting a header-only export, the
    once-per-run check would count it as failed."""
    from duva_spark.sources.csv_source import read_csv_duva

    def accept_empty(spark, path, schema=None, widen_types=False):
        if Path(path).read_bytes().count(b"\n") <= 1:  # header only
            return spark.read.option("header", True).csv(path)
        return read_csv_duva(spark, path, schema, widen_types)

    monkeypatch.setattr("duva_spark.orchestration.sync.read_csv_duva", accept_empty)
    out = _run(bench_env, "form_sync")["out"]
    assert out.check_failures == 1
    assert all(o.ok for o in out.ops)


def test_same_seed_same_inputs_other_seed_other_order(tmp_path):
    a, b = datagen.form_export(500, 3), datagen.form_export(500, 3)
    assert a.csv == b.csv and a.null_counts == b.null_counts
    assert datagen.form_export(500, 4).csv != a.csv
    for d in ("x", "y"):
        datagen.write_tables(str(tmp_path / d), 0.001, 3)
    for f in sorted((tmp_path / "x").iterdir()):
        assert f.read_bytes() == (tmp_path / "y" / f.name).read_bytes(), f.name

    orders = []
    for seed in (1, 2):
        wl = workloads.make("analytic_sql")
        wl.prepare(tmp_path / f"q{seed}", seed, workloads.SMOKE)
        orders.append([wl.pass_items(), wl.pass_items()])
    assert orders[0] != orders[1]
    assert orders[0][0] != orders[0][1]  # reshuffled on every pass
