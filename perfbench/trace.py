"""Layer spans and Spark-job attribution for the traced run.

The tracer works from outside the program: it wraps the public functions
each layer exposes (``catalog.load_table``, ``sources.csv_source.*``,
``sinks.full_refresh`` ...) and records a span around every call. Query
modules and ``orchestration/sync.py`` bind those functions by name at
import, so a wrapper replaces the function object in every ``duva_spark``
module that holds it, not only in the defining one.

Each span tags the Spark jobs it launches (``SparkContext.addJobTag``).
After the run, ``read_event_log`` reads the Spark event log and charges
every job, and the stages and tasks under it, to the innermost span that
launched it: by tag, or, for jobs started from a pool thread that does not
carry the tag, by the span that was open when the job was submitted.
"""

from __future__ import annotations

import functools
import json
import sys
import time
from collections import Counter, defaultdict
from dataclasses import dataclass, field
from pathlib import Path


@dataclass
class Span:
    id: int
    name: str
    op: int
    parent: int | None
    depth: int
    start: float
    end: float = 0.0

    @property
    def dur(self) -> float:
        return self.end - self.start


@dataclass
class Job:
    id: int
    submitted: float  # seconds, same clock as spans (epoch)
    span: int | None
    stages: list[int] = field(default_factory=list)


class Tracer:
    """Records spans while ``active``; wrappers pass straight through
    otherwise, so one tracer serves interleaved traced and untraced ops."""

    def __init__(self, spark=None):
        self.sc = spark.sparkContext if spark is not None else None
        self.spans: list[Span] = []
        self.active = False
        self._stack: list[Span] = []
        self._op = -1
        self._patched: list[tuple[object, str, object]] = []

    # ---------------------------------------------------------------- spans
    def span(self, name: str):
        return _SpanCtx(self, name)

    def op(self, op_id: int):
        """The root span of one benchmark operation."""
        self._op = op_id
        return _SpanCtx(self, "op")

    def _enter(self, name: str) -> Span | None:
        if not self.active:
            return None
        parent = self._stack[-1] if self._stack else None
        s = Span(
            id=len(self.spans),
            name=name,
            op=self._op,
            parent=parent.id if parent else None,
            depth=len(self._stack),
            start=time.time(),
        )
        self.spans.append(s)
        self._stack.append(s)
        if self.sc is not None:
            self.sc.addJobTag(f"bench-span-{s.id}")
        return s

    def _exit(self, s: Span | None) -> None:
        if s is None:
            return
        s.end = time.time()
        self._stack.pop()
        if self.sc is not None:
            self.sc.removeJobTag(f"bench-span-{s.id}")

    # ------------------------------------------------------------- wrapping
    def wrap_function(self, module_name: str, attr: str, layer: str) -> None:
        """Wrap ``module.attr`` in a ``layer`` span, in every loaded
        ``duva_spark`` module that bound the same function object."""
        orig = getattr(sys.modules[module_name], attr)
        wrapped = self._wrapper(orig, layer)
        for mod in [m for n, m in list(sys.modules.items()) if n.startswith("duva_spark")]:
            for name, value in list(vars(mod).items()):
                if value is orig:
                    self._patched.append((mod, name, orig))
                    setattr(mod, name, wrapped)

    def wrap_method(self, cls: type, attr: str, layer: str) -> None:
        orig = cls.__dict__[attr]
        self._patched.append((cls, attr, orig))
        setattr(cls, attr, self._wrapper(orig, layer))

    def _wrapper(self, fn, layer: str):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            s = tracer._enter(layer)
            try:
                return fn(*args, **kwargs)
            finally:
                tracer._exit(s)

        return traced

    def unwrap_all(self) -> None:
        for owner, name, orig in reversed(self._patched):
            setattr(owner, name, orig)
        self._patched.clear()


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str):
        self.tracer, self.name, self.span = tracer, name, None

    def __enter__(self) -> Span | None:
        self.span = self.tracer._enter(self.name)
        return self.span

    def __exit__(self, *exc) -> None:
        self.tracer._exit(self.span)


def install_layer_wrappers(tracer: Tracer) -> None:
    """Wrap the public entry points of every layer the workloads cross."""
    import duva_spark.catalog  # noqa: F401
    import duva_spark.shaping.ops  # noqa: F401
    import duva_spark.sinks  # noqa: F401
    import duva_spark.sources.csv_source  # noqa: F401
    import duva_spark.sources.http  # noqa: F401
    import duva_spark.streaming.jobs  # noqa: F401
    from duva_spark.orchestration.lock import DatasetLock
    from duva_spark.orchestration.state import MetadataStore

    tracer.wrap_function("duva_spark.catalog", "load_table", "catalog.load")
    tracer.wrap_function("duva_spark.streaming.jobs", "read_events_stream", "catalog.load")
    tracer.wrap_function("duva_spark.sources.http", "fetch_to_local", "sources.fetch")
    tracer.wrap_function("duva_spark.sources.csv_source", "infer_csv_schema", "sources.infer")
    tracer.wrap_function("duva_spark.sources.csv_source", "read_csv_duva", "sources.read")
    tracer.wrap_function("duva_spark.shaping.ops", "apply_export_settings", "shaping.apply")
    tracer.wrap_function("duva_spark.sinks", "full_refresh", "sinks.commit")
    tracer.wrap_method(DatasetLock, "__enter__", "orchestration.lock")
    tracer.wrap_method(DatasetLock, "__exit__", "orchestration.lock")
    tracer.wrap_method(MetadataStore, "_flush", "orchestration.state")


# ------------------------------------------------------------------ event log

#: task counters summed per stage; all but ``output_bytes`` are reported
#: as ``spark.<name>``, ``output_bytes`` of commit stages as
#: ``sinks.bytes_written``
TASK_FIELDS = (
    "tasks",
    "failed_tasks",
    "task_s",
    "task_cpu_s",
    "gc_s",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "input_bytes",
    "output_bytes",
)


def _event_files(log_dir: str, app_id: str) -> list[Path]:
    base = Path(log_dir.removeprefix("file:"))
    hits = [p for p in base.iterdir() if p.name.startswith(app_id)]
    out: list[Path] = []
    for p in hits:  # a rolling log is a directory of events_* files
        out.extend(sorted(p.glob("events_*")) if p.is_dir() else [p])
    return out


def read_event_log(log_dir: str, app_id: str, spans: list[Span]) -> tuple[dict, dict]:
    """Return ``(jobs, stage_stats)``: every job with the span it is
    charged to, and per-stage task counters plus a csv-scan flag."""
    by_id = {s.id: s for s in spans}
    jobs: dict[int, Job] = {}
    stages: dict[int, dict] = {}
    for path in _event_files(log_dir, app_id):
        with path.open() as f:
            for line in f:
                try:
                    ev = json.loads(line)
                except ValueError:
                    continue  # a partly flushed last line
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    tags = ev.get("Properties", {}).get("spark.job.tags", "")
                    ids = [
                        int(t.rsplit("-", 1)[1])
                        for t in tags.split(",")
                        if t.startswith("bench-span-") and int(t.rsplit("-", 1)[1]) in by_id
                    ]
                    span = max(ids, key=lambda i: by_id[i].depth) if ids else None
                    jobs[ev["Job ID"]] = Job(
                        id=ev["Job ID"],
                        submitted=ev["Submission Time"] / 1000.0,
                        span=span,
                        stages=list(ev.get("Stage IDs", [])),
                    )
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    st = stages.setdefault(info["Stage ID"], dict.fromkeys(TASK_FIELDS, 0))
                    st["completed"] = True
                    # the export is read as text (header, inference) and as csv
                    st["csv_scan"] = any(
                        '"name":"Scan csv' in r.get("Scope", "")
                        or '"name":"Scan text' in r.get("Scope", "")
                        for r in info.get("RDD Info", [])
                    )
                elif kind == "SparkListenerTaskEnd":
                    st = stages.setdefault(ev["Stage ID"], dict.fromkeys(TASK_FIELDS, 0))
                    _add_task(st, ev)
    _charge_untagged(jobs, spans)
    return jobs, stages


def _add_task(st: dict, ev: dict) -> None:
    st["tasks"] += 1
    if ev.get("Task Info", {}).get("Failed"):
        st["failed_tasks"] += 1
    m = ev.get("Task Metrics") or {}
    st["task_s"] += m.get("Executor Run Time", 0) / 1e3
    st["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
    st["gc_s"] += m.get("JVM GC Time", 0) / 1e3
    sr = m.get("Shuffle Read Metrics") or {}
    st["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
    st["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
        "Shuffle Bytes Written", 0
    )
    st["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    st["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
    st["output_bytes"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)


def _charge_untagged(jobs: dict[int, Job], spans: list[Span]) -> None:
    """A job without a span tag (launched from a thread the tag does not
    follow) goes to the deepest span open at its submission time."""
    for job in jobs.values():
        if job.span is not None:
            continue
        open_ = [s for s in spans if s.start <= job.submitted <= s.end]
        if open_:
            job.span = max(open_, key=lambda s: s.depth).id


# ------------------------------------------------------------ layer metrics

#: layer span name -> metric prefix of its self time
LAYER_TIMES = {
    "catalog.load": "catalog.load_s",
    "queries.build": "queries.build_s",
    "queries.plan": "queries.plan_s",
    "queries.action": "queries.action_s",
    "sources.fetch": "sources.fetch_s",
    "sources.infer": "sources.infer_s",
    "sources.read": "sources.read_s",
    "shaping.apply": "shaping.apply_s",
    "sinks.commit": "sinks.commit_s",
    "orchestration.lock": "orchestration.lock_s",
    "orchestration.state": "orchestration.state_s",
}
#: layer -> metric counting the Spark jobs it launched
LAYER_JOBS = {
    "catalog.load": "catalog.jobs",
    "queries.build": "queries.build_jobs",
    "queries.action": "queries.action_jobs",
}
SPARK_SUMS = TASK_FIELDS[:-1]


def layer_report(spans: list[Span], jobs: dict[int, Job], stages: dict[int, dict], cores: int):
    """Per-op means of every layer metric, plus a per-layer table.

    A layer's time is its spans' self time: duration minus the child spans
    inside it (``sources.read`` excludes ``sources.infer``; ``queries.build``
    excludes the ``catalog.load`` calls the query makes). ``unattributed_s``
    is op wall time no layer span covers. Each completed stage is charged
    once, to the layer of the first job that ran it.
    """
    ops = [s for s in spans if s.name == "op"]
    n = max(1, len(ops))
    child_time: dict[int, float] = defaultdict(float)
    for s in spans:
        if s.parent is not None:
            child_time[s.parent] += s.dur
    self_time: dict[str, float] = defaultdict(float)
    calls: Counter = Counter()
    for s in spans:
        if s.name != "op":
            self_time[s.name] += s.dur - child_time[s.id]
            calls[s.name] += 1
    op_wall = sum(s.dur for s in ops)
    unattributed = sum(s.dur - child_time[s.id] for s in ops)

    layer_of = {s.id: s.name for s in spans}
    job_layer = {j.id: layer_of[j.span] for j in jobs.values() if j.span is not None}
    layer_jobs: Counter = Counter(job_layer.values())
    stage_layer: dict[int, str] = {}
    for j in sorted(jobs.values(), key=lambda j: j.id):
        if j.id in job_layer:
            for sid in j.stages:
                if stages.get(sid, {}).get("completed"):
                    stage_layer.setdefault(sid, job_layer[j.id])
    by_layer: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    for sid, layer in stage_layer.items():
        agg = by_layer[layer]
        agg["stages"] += 1
        for k in TASK_FIELDS:
            agg[k] += stages[sid][k]
    csv_scan_jobs = sum(
        1
        for j in jobs.values()
        if j.id in job_layer and any(stages.get(s, {}).get("csv_scan") for s in j.stages)
    )
    total = {k: sum(a[k] for a in by_layer.values()) for k in SPARK_SUMS + ("stages",)}

    m: dict[str, float] = {}
    for layer, name in LAYER_TIMES.items():
        m[name] = self_time[layer] / n
    m["catalog.loads"] = calls["catalog.load"] / n
    for layer, name in LAYER_JOBS.items():
        m[name] = layer_jobs[layer] / n
    m["sources.csv_scans"] = csv_scan_jobs / n
    m["sinks.bytes_written"] = by_layer["sinks.commit"]["output_bytes"] / n
    m["spark.stages"] = total["stages"] / n
    for k in SPARK_SUMS:
        m[f"spark.{k}"] = total[k] / n
    m["spark.busy_ratio"] = total["task_s"] / (op_wall * cores) if op_wall else 0.0
    m["unattributed_s"] = unattributed / n
    m["unattributed_share"] = unattributed / op_wall if op_wall else 0.0

    table = []
    for layer in sorted(set(self_time) | set(by_layer)):
        agg = by_layer.get(layer, {})
        table.append(
            (
                layer,
                self_time.get(layer, 0.0) / n,
                self_time.get(layer, 0.0) / op_wall if op_wall else 0.0,
                layer_jobs[layer] / n,
                agg.get("stages", 0) / n,
                agg.get("task_s", 0.0) / n,
            )
        )
    table.append(("unattributed", unattributed / n, m["unattributed_share"], 0, 0, 0))
    return m, table
