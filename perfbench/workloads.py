"""The benchmark's workloads and the closed loop that times them.

Each workload is one client in a closed loop: the next op starts when the
previous one has returned. An op is one query (build + final action) or
one ``SyncJob.run`` full refresh. Every op's output is checked right after
it returns, outside the timed span; a failed or wrong op is counted and the
run carries on.
"""

from __future__ import annotations

import random
import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field
from pathlib import Path

from perfbench import datagen
from perfbench.trace import Tracer

#: ``relational`` + ``streaming_q`` headline queries
ANALYTIC_SQL = (
    "q01_pricing_summary",
    "q03_shipping_priority",
    "q05_local_supplier_volume",
    "q06_forecast_revenue",
    "q10_returned_items",
    "q_join_asof",
    "q_heavy_hitter_words",
    "q_interval_coverage",
    "q_stream_tumbling",
    "q_stream_sessions",
)


@dataclass(frozen=True)
class Scale:
    sf: float
    export_rows: int


FULL = Scale(sf=0.1, export_rows=1_000_000)
SMOKE = Scale(sf=0.001, export_rows=2_000)
#: A sync fell from 10.6 s to 5.2, 3.7, 3.2 and 2.9 s over its first five
#: runs on a 4-core host; three warm-up syncs put the timed ones near the
#: steady state.
WARMUP_SYNCS = 3


@dataclass
class Op:
    seconds: float
    ok: bool
    rows: int
    traced: bool


@dataclass
class Outcome:
    """What one run measured: the timed ops plus the untimed checks."""

    ops: list[Op] = field(default_factory=list)
    checks: int = 0
    check_failures: int = 0
    setup_s: float = 0.0
    session_start_s: float = 0.0
    stored_bytes_ratio: float | None = None
    files_written: int = 0

    @property
    def attempted(self) -> int:
        return len(self.ops) + self.checks

    @property
    def failed(self) -> int:
        return sum(not o.ok for o in self.ops) + self.check_failures


def _fail(what: str) -> None:
    print(f"FAILED {what}", file=sys.stderr, flush=True)


def _attempt(fn, *args):
    """``fn(*args)``, or None after printing the traceback: a failed
    warm-up op is counted by the check that follows, not fatal."""
    try:
        return fn(*args)
    except Exception:  # noqa: BLE001 - counted as a failed check
        traceback.print_exc()
        return None


class _Collected:
    """A collected result in the shape ``check_oracle.compare_one`` reads
    from a DataFrame, so the comparator runs on the rows the timed op
    already fetched instead of running the query again."""

    def __init__(self, rows, columns):
        self._rows, self.columns = rows, columns

    def collect(self):
        return self._rows


class _OracleResult:
    def __init__(self, res):
        self.columns = res.columns
        self._rows = res.fetchall()

    def fetchall(self):
        return self._rows


class _CachedOracle:
    """DuckDB connection proxy that runs each oracle SQL once per run."""

    def __init__(self, con):
        self._con, self._memo = con, {}

    def sql(self, query: str) -> _OracleResult:
        if query not in self._memo:
            self._memo[query] = _OracleResult(self._con.sql(query))
        return self._memo[query]


def _load_check_oracle():
    """``tools/check_oracle.py`` is a script, not a package module."""
    tools = str(Path(__file__).resolve().parent.parent / "tools")
    if tools not in sys.path:
        sys.path.insert(0, tools)
    import check_oracle

    return check_oracle


class QueryWorkload:
    """A fixed set of registry queries; the seed shuffles their order on
    every pass."""

    def __init__(self, name: str, queries: tuple[str, ...]):
        self.name, self.queries = name, queries

    def prepare(self, work: Path, seed: int, scale: Scale) -> None:
        self.sf_dir = str(work / "tables")
        datagen.write_tables(self.sf_dir, scale.sf, seed)
        self.rng = random.Random(seed)

    def setup(self, spark) -> None:
        """Registry import and one warm-up pass (part of ``setup_s``)."""
        from duva_spark.queries import load_all

        self.spark, self.registry = spark, load_all()
        idle = Tracer()
        self.warmup = [_attempt(self._run, n, idle) for n in self.pass_items()]

    def verify_once(self, out: Outcome) -> None:
        """Check the warm-up pass against the DuckDB oracle; this also
        fills the oracle cache every later op is checked against."""
        co = _load_check_oracle()
        self.compare_one = co.compare_one
        self.oracle = _CachedOracle(co.make_duckdb(self.sf_dir))
        for name, result in zip(self.order, self.warmup):
            out.checks += 1
            if not self._check(name, result):
                out.check_failures += 1

    def pass_items(self) -> list[str]:
        self.order = list(self.queries)
        self.rng.shuffle(self.order)
        return self.order

    def _run(self, name: str, tracer: Tracer):
        q = self.registry[name]
        with tracer.span("queries.build"):
            df = q.fn(self.spark, self.sf_dir)
        if tracer.active:  # plain ops leave planning inside the action
            with tracer.span("queries.plan"):
                df._jdf.queryExecution().executedPlan()
        with tracer.span("queries.action"):
            rows = df.collect()
        return rows, df.columns

    def run_op(self, name: str, tracer: Tracer, op_id: int) -> Op:
        t0 = time.perf_counter()
        with tracer.op(op_id):
            result = self._run(name, tracer)
        dt = time.perf_counter() - t0
        return Op(dt, self._check(name, result), len(result[0]), tracer.active)

    def _check(self, name: str, result) -> bool:
        if result is None:
            return False
        rows, columns = result
        status, detail = self.compare_one(
            self.spark,
            self.oracle,
            self.sf_dir,
            name,
            lambda spark, sf: _Collected(rows, columns),
            self.registry[name].oracle,
        )
        if status != "pass":
            _fail(f"{name}: {status}: {detail}")
        return status == "pass"

    def finish(self, out: Outcome) -> None:
        pass


class FormSyncWorkload:
    """Repeated full refreshes of one dataset from a seeded export."""

    name = "form_sync"
    DATASET = "form"

    def prepare(self, work: Path, seed: int, scale: Scale) -> None:
        self.work = work
        self.export = datagen.form_export(scale.export_rows, seed)
        self.bodies = {
            "bench://export/form.csv": self.export.csv,
            "bench://export/header-only.csv": datagen.header_only_export(self.export),
        }
        self.out_path = str(work / "datasets" / self.DATASET)
        (work / "locks").mkdir(parents=True, exist_ok=True)
        self.fetched: list[Path] = []

    def _get(self, url: str) -> tuple[int, bytes]:
        return 200, self.bodies[url]

    def _fetcher(self, url: str):
        from duva_spark.sources import http

        def fetch(dataset_id: str) -> Path:
            path = http.fetch_to_local(url, self._get)
            self.fetched.append(path)
            return path

        return fetch

    @staticmethod
    def _shape(df):
        from duva_spark.shaping import ops
        from duva_spark.shaping.settings import ExportSettings

        return ops.apply_export_settings(
            df,
            ExportSettings(),
            datagen.LABELS,
            {datagen.SELECT_QUESTION: datagen.CHOICES},
        )

    def _job(self, url: str):
        from duva_spark.orchestration.sync import SyncJob

        return SyncJob(
            self.spark,
            self.store,
            self.work / "locks",
            fetch=self._fetcher(url),
            shape=self._shape,
        )

    def setup(self, spark) -> None:
        """Import the sync path and run the warm-up syncs (``setup_s``)."""
        from duva_spark.orchestration.state import MetadataStore

        self.spark = spark
        self.store = MetadataStore(self.work / "state.json")
        self.job = self._job("bench://export/form.csv")
        self.warmup = [_attempt(self._sync, self.job) for _ in range(WARMUP_SYNCS)]

    def _sync(self, job) -> int:
        try:
            return job.run(self.DATASET, self.out_path)
        finally:
            for p in self.fetched:
                p.unlink(missing_ok=True)
            self.fetched.clear()

    def verify_once(self, out: Outcome) -> None:
        """The warm-up commits are checked like timed ones; then a
        header-only export must raise ``EmptyInputError`` and leave the
        previous commit as it was."""
        from duva_spark.sources.csv_source import EmptyInputError

        for n in self.warmup:
            out.checks += 1
            if not self._check(n):
                out.check_failures += 1
        before = _listing(self.out_path)
        out.checks += 1
        try:
            self._sync(self._job("bench://export/header-only.csv"))
            _fail("header-only export: sync returned instead of raising EmptyInputError")
            out.check_failures += 1
        except EmptyInputError:
            if _listing(self.out_path) != before:
                _fail("header-only export: previous commit changed")
                out.check_failures += 1
        except Exception:  # noqa: BLE001 - the wrong error is a failed check
            traceback.print_exc()
            out.check_failures += 1

    def pass_items(self) -> list[int]:
        return [0]

    def run_op(self, item: int, tracer: Tracer, op_id: int) -> Op:
        t0 = time.perf_counter()
        with tracer.op(op_id):
            n = self._sync(self.job)
        dt = time.perf_counter() - t0
        return Op(dt, self._check(n), n, tracer.active)

    def _check(self, n: int | None) -> bool:
        if n is None:
            return False
        try:
            problems = self._commit_problems(n)
        except Exception:  # noqa: BLE001 - an unreadable commit is a failed check
            traceback.print_exc()
            return False
        if problems:
            _fail("form_sync commit: " + "; ".join(problems))
        return not problems

    def _commit_problems(self, n: int) -> list[str]:
        """Read the commit back and compare it with the generator's facts."""
        from pyspark.sql import functions as F

        ex = self.export
        df = self.spark.read.parquet(self.out_path)
        problems = []
        if n != ex.rows:
            problems.append(f"sync reported {n} rows, export has {ex.rows}")
        if set(df.columns) != ex.columns:
            return problems + [f"columns {sorted(df.columns)} != {sorted(ex.columns)}"]
        aggs = [F.count(F.lit(1)).alias("rows")]
        aggs += [
            F.sum(F.col(f"`{c}`").isNull().cast("long")).alias(f"null:{c}")
            for c in ex.null_counts
        ]
        aggs += [F.sum(F.col(f"`{c}`")).alias(f"flag:{c}") for c in ex.flag_counts]
        got = df.agg(*aggs).first().asDict()
        want = {"rows": ex.rows}
        want.update({f"null:{c}": v for c, v in ex.null_counts.items()})
        want.update({f"flag:{c}": v for c, v in ex.flag_counts.items()})
        return problems + [f"{k}: got {got[k]}, want {v}" for k, v in want.items() if got[k] != v]

    def finish(self, out: Outcome) -> None:
        """Size of the last commit against the export it came from."""
        files = [p for p in Path(self.out_path).rglob("*.parquet") if p.is_file()]
        out.files_written = len(files)
        out.stored_bytes_ratio = sum(p.stat().st_size for p in files) / len(self.export.csv)


def _listing(path: str) -> list[tuple[str, int, int]]:
    root = Path(path)
    return sorted(
        (str(p.relative_to(root)), p.stat().st_size, p.stat().st_mtime_ns)
        for p in root.rglob("*")
        if p.is_file()
    )


def make(name: str):
    if name == "analytic_sql":
        return QueryWorkload(name, ANALYTIC_SQL)
    if name == "form_sync":
        return FormSyncWorkload()
    raise ValueError(f"unknown workload {name!r}")


WORKLOADS = ("analytic_sql", "form_sync")


def measure(wl, seconds: float, tracer: Tracer, trace: bool, out: Outcome) -> None:
    """Run whole passes until ``seconds`` of op time have been measured.

    Untraced, every op is plain. Traced, each item (query or sync) goes
    plain, traced, traced, plain over four passes, in whole groups of four,
    with the pattern shifted from item to item so that every pass mixes
    both kinds. The same run then gives the tracing overhead against plain
    ops of the same process, and no warm-up trend is charged to either side.
    """
    busy, pass_no = 0.0, 0
    while busy < seconds or (trace and pass_no % 4):
        items = wl.pass_items()
        shift = {item: i for i, item in enumerate(sorted(items))}
        for item in items:
            tracer.active = trace and (pass_no + shift[item]) % 4 in (1, 2)
            t0 = time.perf_counter()
            try:
                op = wl.run_op(item, tracer, len(out.ops))
            except Exception:  # noqa: BLE001 - an op failure is counted, the run goes on
                traceback.print_exc()
                op = Op(time.perf_counter() - t0, False, 0, tracer.active)
            out.ops.append(op)
            busy += op.seconds
        pass_no += 1
    tracer.active = False


def quantile(values: list[float], q: float) -> float:
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[round(q * 100) - 1]


def end_to_end(out: Outcome, peak_rss_mb: float) -> dict[str, tuple[float, str, int]]:
    """Metric -> (value, unit, sample count) over the plain ops."""
    ok = [o for o in out.ops if o.ok and not o.traced]
    if not ok:
        raise RuntimeError("every timed op failed; see the errors above")
    secs = [o.seconds for o in ok]
    busy = sum(secs)
    n = len(secs)
    return {
        "setup_s": (out.setup_s, "s", 1),
        "op_s.p50": (quantile(secs, 0.5), "s", n),
        "op_s.p90": (quantile(secs, 0.9), "s", n),
        "ops_per_s": (n / busy, "1/s", n),
        "peak_rss_mb": (peak_rss_mb, "MB", 1),
        "rows_per_s": (sum(o.rows for o in ok) / busy, "1/s", n),
    }

