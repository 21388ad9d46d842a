"""Prometheus-compatible metrics (C7) — text exposition format on the
stdlib, no prometheus_client dependency.

Reference metrics reproduced (app/utils/onadata_utils.py:37-47, served
at /metrics via app/main.py:56-64):
- ``in_progress_hyper_import`` gauge — syncs currently running;
- ``successful_hyper_database_imports`` counter;
- ``failed_hyper_database_imports`` counter.

Beyond the reference, each completed sync stage's seconds are exposed as
a summary (``duva_sync_stage_seconds_sum`` / ``_count`` per ``stage``),
next to ``duva_sync_schema_fallbacks_total``: syncs of a non-empty export
that took the exact path, because their one-scan commit could not vouch
for its sampled schema or an earlier one of the same dataset could not.

The exposition format is the published Prometheus text format
(``# HELP`` / ``# TYPE`` / ``name value``), so a real Prometheus scrape
of the control-plane server works unmodified. Spark's own executor/task
metrics remain available through its native Prometheus servlet; these
are the *product-level* sync counters the reference exposes.
"""

from __future__ import annotations

import threading
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class _Metric:
    name: str
    help: str
    kind: str  # "gauge" | "counter"
    value: float = 0.0


#: `SyncJob.run` stages, in order; ``fallback`` is the exact-schema re-run.
SYNC_STAGES = ("fetch", "sample", "commit", "swap", "fallback")


@dataclass
class MetricsRegistry:
    """Thread-safe registry of the sync metrics + text exposition."""

    _mu: threading.Lock = field(default_factory=threading.Lock, repr=False)

    def __post_init__(self):
        self.in_progress = _Metric(
            "in_progress_hyper_import",
            "Number of Import processes currently running for Tableau Hyper databases",
            "gauge",
        )
        self.successful = _Metric(
            "successful_hyper_database_imports",
            "Number of successfull imports to a hyper database",
            "counter",
        )
        self.failed = _Metric(
            "failed_hyper_database_imports",
            "Number of failed imports to a hyper database",
            "counter",
        )
        self.schema_fallbacks = _Metric(
            "duva_sync_schema_fallbacks_total",
            "Syncs that took the exact schema path because a sampled schema failed its check",
            "counter",
        )
        self._all = [self.in_progress, self.successful, self.failed, self.schema_fallbacks]
        self._stage_seconds = {stage: [0.0, 0] for stage in SYNC_STAGES}

    def inc(self, metric: _Metric, delta: float = 1.0) -> None:
        with self._mu:
            metric.value += delta

    @contextmanager
    def track_sync(self):
        """Wrap one sync run: gauge up while running, success/failure
        counter on the way out (the reference wraps start_csv_import
        the same way)."""
        self.inc(self.in_progress, 1)
        try:
            yield
        except BaseException:
            self.inc(self.in_progress, -1)
            self.inc(self.failed, 1)
            raise
        else:
            self.inc(self.in_progress, -1)
            self.inc(self.successful, 1)

    def observe_sync_stage(self, stage: str, seconds: float) -> None:
        with self._mu:
            agg = self._stage_seconds[stage]
            agg[0] += seconds
            agg[1] += 1

    # ---- HTTP request metrics (reference app/main.py:56-58 mounts
    # starlette_exporter's PrometheusMiddleware with prefix="duva",
    # filter_unhandled_paths=True) -------------------------------------

    _BUCKETS = (0.005, 0.05, 0.25, 1.0, 5.0)

    def observe_request(self, method: str, template: str, code: int, seconds: float) -> None:
        """One routed HTTP request. ``template`` is the ROUTE template
        (e.g. ``/api/v1/files/{id}``), never the raw path — label
        cardinality stays bounded by the route table, the same reason
        starlette_exporter groups by route. Unrouted paths are never
        observed (filter_unhandled_paths parity)."""
        key = (method, template, int(code))
        with self._mu:
            if not hasattr(self, "_requests"):
                self._requests: dict = {}
                self._durations: dict = {}
            self._requests[key] = self._requests.get(key, 0) + 1
            # duration histograms keyed per (method, route template) like
            # starlette_exporter's — one global unlabeled histogram made
            # per-route latency underivable (ADVICE r4)
            dkey = (method, template)
            if dkey not in self._durations:
                self._durations[dkey] = {
                    "buckets": [0] * len(self._BUCKETS),
                    "sum": 0.0,
                    "count": 0,
                }
            d = self._durations[dkey]
            d["sum"] += seconds
            d["count"] += 1
            for i, ub in enumerate(self._BUCKETS):
                if seconds <= ub:
                    d["buckets"][i] += 1

    def exposition(self) -> str:
        """Prometheus text format, one block per metric."""
        with self._mu:
            lines = []
            for m in self._all:
                lines.append(f"# HELP {m.name} {m.help}")
                lines.append(f"# TYPE {m.name} {m.kind}")
                v = int(m.value) if m.value == int(m.value) else m.value
                lines.append(f"{m.name} {v}")
            lines.append("# HELP duva_sync_stage_seconds Seconds spent in each sync stage")
            lines.append("# TYPE duva_sync_stage_seconds summary")
            for stage, (total, count) in self._stage_seconds.items():
                lines.append(f'duva_sync_stage_seconds_sum{{stage="{stage}"}} {round(total, 6)}')
                lines.append(f'duva_sync_stage_seconds_count{{stage="{stage}"}} {count}')
            if getattr(self, "_requests", None):
                lines.append("# HELP duva_requests_total Total HTTP requests")
                lines.append("# TYPE duva_requests_total counter")
                for (method, template, code), n in sorted(self._requests.items()):
                    lines.append(
                        f'duva_requests_total{{method="{method}",'
                        f'path="{template}",status_code="{code}"}} {n}'
                    )
                lines.append(
                    "# HELP duva_request_duration_seconds HTTP request duration"
                )
                lines.append("# TYPE duva_request_duration_seconds histogram")
                for (method, template), d in sorted(self._durations.items()):
                    lbl = f'method="{method}",path="{template}"'
                    for ub, b in zip(self._BUCKETS, d["buckets"]):
                        lines.append(
                            f'duva_request_duration_seconds_bucket{{{lbl},le="{ub}"}} {b}'
                        )
                    lines.append(
                        f'duva_request_duration_seconds_bucket{{{lbl},le="+Inf"}} '
                        f"{d['count']}"
                    )
                    lines.append(
                        f"duva_request_duration_seconds_sum{{{lbl}}} "
                        f"{round(d['sum'], 6)}"
                    )
                    lines.append(
                        f"duva_request_duration_seconds_count{{{lbl}}} {d['count']}"
                    )
            return "\n".join(lines) + "\n"
