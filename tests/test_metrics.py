"""Prometheus metrics (C7): gauge + success/failure counters around
SyncJob.run, scraped off the live /metrics route in text exposition
format (app/utils/onadata_utils.py:37-47, app/main.py:56-64)."""

from __future__ import annotations

import urllib.error
import urllib.request

import pytest

from duva_spark.api import ControlPlane, serve
from duva_spark.metrics import MetricsRegistry
from duva_spark.orchestration import MetadataStore, SyncJob


def _scrape(base) -> dict[str, float]:
    with urllib.request.urlopen(f"{base}/metrics") as resp:
        assert resp.status == 200
        assert resp.headers["Content-Type"].startswith("text/plain")
        text = resp.read().decode()
    out = {}
    for line in text.splitlines():
        if line and not line.startswith("#"):
            name, value = line.rsplit(" ", 1)
            out[name] = float(value)
    return out


@pytest.fixture()
def metered_api(spark, tmp_path):
    good = tmp_path / "export.csv"
    good.write_text("name,age\nalice,34\n")
    mode = {"fail": False}

    def fetch(_id):
        if mode["fail"]:
            raise RuntimeError("upstream down")
        return good

    store = MetadataStore(tmp_path / "catalog.json")
    reg = MetricsRegistry()
    job = SyncJob(spark, store, tmp_path, fetch=fetch, metrics=reg)
    cp = ControlPlane(store, job, str(tmp_path / "out"))
    server, _ = serve(cp)
    yield f"http://127.0.0.1:{server.server_address[1]}", job, mode, tmp_path
    server.shutdown()


def test_metrics_count_success_and_failure(metered_api):
    base, job, mode, tmp_path = metered_api
    m0 = _scrape(base)
    assert m0["successful_hyper_database_imports"] == 0
    assert m0["failed_hyper_database_imports"] == 0
    assert m0["in_progress_hyper_import"] == 0
    job.run("d1", str(tmp_path / "out" / "d1"))
    assert _scrape(base)["successful_hyper_database_imports"] == 1
    mode["fail"] = True
    with pytest.raises(RuntimeError):
        job.run("d1", str(tmp_path / "out" / "d1"))
    m2 = _scrape(base)
    assert m2["successful_hyper_database_imports"] == 1
    assert m2["failed_hyper_database_imports"] == 1
    assert m2["in_progress_hyper_import"] == 0  # gauge back down after both paths


def test_sync_stage_seconds_and_schema_fallbacks(metered_api):
    """A sync whose sampled schema holds, one whose column first filled
    after the sample is text, then one that must re-run the exact path:
    every stage each ran is counted once, with its seconds; only the last
    is a schema fallback. A header-only export is none."""
    from duva_spark.metrics import SYNC_STAGES
    from duva_spark.sources.csv_source import SAMPLE_ROWS, EmptyInputError

    base, job, mode, tmp_path = metered_api
    out = str(tmp_path / "out" / "d1")

    def stages(m, suffix):
        return {s: m[f'duva_sync_stage_seconds_{suffix}{{stage="{s}"}}'] for s in SYNC_STAGES}

    def sync(lines):
        (tmp_path / "export.csv").write_text("name,note\n" + "\n".join(lines) + "\n")
        return job.run("d1", out)

    once = {"fetch": 1, "sample": 1, "commit": 1, "swap": 1, "fallback": 0}
    job.run("d1", out)
    m1 = _scrape(base)
    assert stages(m1, "count") == once
    assert stages(m1, "sum")["commit"] > 0
    assert m1["duva_sync_schema_fallbacks_total"] == 0
    # notes are empty through the sample, then text
    assert sync([f"p{i}," for i in range(SAMPLE_ROWS)] + ["late,see visit 2"]) == SAMPLE_ROWS + 1
    m2 = _scrape(base)
    assert stages(m2, "count") == {s: 2 * n for s, n in once.items()}
    assert m2["duva_sync_schema_fallbacks_total"] == 0
    # notes are integers through the sample, then one is not
    assert sync([f"p{i},{i % 90}" for i in range(SAMPLE_ROWS)] + ["late,33.5"]) == SAMPLE_ROWS + 1
    m3 = _scrape(base)
    assert stages(m3, "count") == {s: 3 * n + (s == "fallback") for s, n in once.items()}
    assert stages(m3, "sum")["fallback"] > 0
    assert m3["duva_sync_schema_fallbacks_total"] == 1
    # the exact path of a header-only export raises: no fallback is counted
    with pytest.raises(EmptyInputError):
        sync([])
    m4 = _scrape(base)
    assert stages(m4, "count")["fallback"] == 1
    assert m4["duva_sync_schema_fallbacks_total"] == 1


def test_metrics_exposition_format(metered_api):
    base = metered_api[0]
    with urllib.request.urlopen(f"{base}/metrics") as resp:
        text = resp.read().decode()
    assert "# HELP in_progress_hyper_import " in text
    assert "# TYPE in_progress_hyper_import gauge" in text
    assert "# TYPE successful_hyper_database_imports counter" in text
    assert "# TYPE failed_hyper_database_imports counter" in text
    assert "# TYPE duva_sync_schema_fallbacks_total counter" in text
    assert "# TYPE duva_sync_stage_seconds summary" in text


def test_metrics_404_when_not_configured(spark, tmp_path):
    store = MetadataStore(tmp_path / "catalog.json")
    job = SyncJob(spark, store, tmp_path, fetch=lambda _id: tmp_path / "x.csv")
    server, _ = serve(ControlPlane(store, job, str(tmp_path / "out")))
    base = f"http://127.0.0.1:{server.server_address[1]}"
    with pytest.raises(urllib.error.HTTPError) as e:
        urllib.request.urlopen(f"{base}/metrics")
    assert e.value.code == 404
    server.shutdown()


def test_http_request_metrics_by_route_template(metered_api):
    """starlette_exporter parity (reference app/main.py:56-58): routed
    requests count under duva_requests_total with the ROUTE TEMPLATE as
    the path label (bounded cardinality), plus a duration histogram;
    unrouted paths are never observed (filter_unhandled_paths)."""
    base, job, mode, tmp_path = metered_api
    import json as _json

    for fid in (1, 2):
        req = urllib.request.Request(
            f"{base}/api/v1/files/",
            data=_json.dumps({"form_id": fid}).encode(),
            method="POST",
            headers={"Content-Type": "application/json"},
        )
        urllib.request.urlopen(req).read()
    urllib.request.urlopen(f"{base}/api/v1/files/1").read()
    try:
        urllib.request.urlopen(f"{base}/nonexistent")
    except urllib.error.HTTPError:
        pass
    with urllib.request.urlopen(f"{base}/metrics") as resp:
        text = resp.read().decode()
    assert (
        'duva_requests_total{method="POST",path="/api/v1/files/",status_code="201"} 2'
        in text
    )
    assert (
        'duva_requests_total{method="GET",path="/api/v1/files/{id}",status_code="200"} 1'
        in text
    )
    assert "/nonexistent" not in text  # unrouted → unobserved
    # duration histograms are labeled per (method, route) like
    # starlette_exporter's — an unlabeled aggregate cannot answer
    # per-route latency (ADVICE r4)
    assert (
        'duva_request_duration_seconds_count{method="POST",path="/api/v1/files/"} 2'
        in text
    )
    assert (
        'duva_request_duration_seconds_bucket{method="GET",path="/api/v1/files/{id}",le="+Inf"} 1'
        in text
    )
    assert 'duva_request_duration_seconds_sum{method="POST",path="/api/v1/files/"}' in text


def test_unrouted_request_on_reused_connection_not_mislabeled(metered_api):
    """Keep-alive connections reuse the handler instance; a 404 after a
    routed request must not inherit the previous route's metrics label."""
    import http.client

    base, job, mode, tmp_path = metered_api
    host = base.split("//", 1)[1]
    conn = http.client.HTTPConnection(host)
    try:
        conn.request("GET", "/api/v1/files/")
        conn.getresponse().read()
        conn.request("GET", "/definitely/not/a/route")
        assert conn.getresponse().status == 404
    finally:
        conn.close()
    with urllib.request.urlopen(f"{base}/metrics") as resp:
        text = resp.read().decode()
    assert 'path="/api/v1/files/",status_code="404"' not in text
    assert "/definitely/not/a/route" not in text
