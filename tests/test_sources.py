"""Ingestion parity with duva: null markers, 3-type schema universe,
empty-input abort, XLSForm schema-first path.

Reference semantics under test: app/core/importer.py:38-74 (type map +
null markers), :236-240 (empty abort); app/utils/hyper_utils.py:40-46
(XLSForm map).
"""

from __future__ import annotations

import pytest
from pyspark.sql import types as T

from duva_spark.sources.csv_source import (
    EmptyInputError,
    infer_csv_schema,
    read_csv_duva,
    schema_from_form,
)

CSV = """respondent_name,age,household_income,consented,visit_date
alice,34,1200.5,yes,2024-01-01
bob,41,n/a,no,2024-01-02
,19,880.0,yes,2024-01-03
carol,n/a,,yes,
"""


@pytest.fixture(scope="module")
def csv_path(tmp_path_factory):
    p = tmp_path_factory.mktemp("csv") / "submissions.csv"
    p.write_text(CSV)
    return str(p)


def test_null_markers_become_null(spark, csv_path):
    df = read_csv_duva(spark, csv_path)
    rows = {r.respondent_name: r for r in df.collect()}
    assert rows["bob"].household_income is None  # "n/a" → NULL
    assert rows["carol"].visit_date is None  # "" → NULL
    assert rows["carol"].age is None
    assert None in rows  # empty respondent_name → NULL row key


def test_three_type_universe(spark, csv_path):
    schema = {f.name: f.dataType for f in read_csv_duva(spark, csv_path).schema.fields}
    assert schema["age"] == T.LongType()  # kind i → BIG_INT
    assert schema["household_income"] == T.DoubleType()  # kind f → DOUBLE
    # everything else collapses to TEXT, including booleans and dates
    assert schema["consented"] == T.StringType()
    assert schema["visit_date"] == T.StringType()
    assert schema["respondent_name"] == T.StringType()


def test_widened_types(spark, csv_path):
    schema = {f.name: f.dataType for f in infer_csv_schema(spark, csv_path, widen_types=True).fields}
    assert schema["visit_date"] in (T.DateType(), T.TimestampType())
    assert schema["consented"] in (T.BooleanType(), T.StringType())


def test_empty_input_aborts(spark, tmp_path):
    p = tmp_path / "empty.csv"
    p.write_text("a,b,c\n")  # header only
    with pytest.raises(EmptyInputError):
        read_csv_duva(spark, str(p))


def test_schema_from_form():
    schema = schema_from_form(
        [
            {"name": "age", "type": "integer"},
            {"name": "income", "type": "decimal"},
            {"name": "name", "type": "text"},
            {"name": "services", "type": "select all that apply"},
        ]
    )
    assert schema["age"].dataType == T.LongType()
    assert schema["income"].dataType == T.DoubleType()
    assert schema["services"].dataType == T.StringType()


def test_row_count_contract(spark, csv_path, tmp_path):
    from duva_spark.sinks import full_refresh

    df = read_csv_duva(spark, csv_path)
    n = full_refresh(df, str(tmp_path / "out"))
    assert n == 4  # COPY-style row count (app/core/importer.py:251-256)
    back = spark.read.parquet(str(tmp_path / "out"))
    assert back.count() == 4


def test_full_refresh_overwrites_with_schema_drift(spark, tmp_path):
    from duva_spark.sinks import full_refresh

    out = str(tmp_path / "drift")
    full_refresh(spark.createDataFrame([(1, "x")], "id long, a string"), out)
    # second sync drops a column and adds another — full refresh tolerates it
    full_refresh(spark.createDataFrame([(2, 3.5)], "id long, b double"), out)
    back = spark.read.parquet(out)
    assert set(back.columns) == {"id", "b"}
    assert back.count() == 1


# ---- one-scan sync read: sample-seeded schema vs whole-file inference ----

#: case -> (header, value of column x on sample lines, extra lines after
#: the sample, whether the sync must fall back to the exact path)
_SURPRISES = {
    "padded_int": ("id,name,x", "7", ["1,n, 7"], True),
    "plus_sign": ("id,name,x", "7", ["1,n,+7"], False),
    "unicode_digits": ("id,name,x", "7", ["1,n,\u0661\u0662"], False),
    "twenty_digits": ("id,name,x", "7", ["1,n,12345678901234567890"], True),
    "exponent_after_ints": ("id,name,x", "7", ["1,n,1e5"], True),
    "double_forms_after_doubles": (
        "id,name,x",
        "2.5",
        [f"1,n,{v}" for v in ("1e5", "1d", "NaN", "Inf", "-Inf", "Infinity")],
        False,
    ),
    "suffix_double_after_ints": ("id,name,x", "7", ["1,n,1d"], True),
    "fraction_after_ints": ("id,name,x", "7", ["1,n,1.5"], True),
    "text_after_doubles": ("id,name,x", "2.5", ["1,n,abc"], True),
    "filled_after_null_sample": ("id,name,x", "", ["1,n,7"], True),
    "null_throughout": ("id,name,x", "n/a", [], False),
    "ragged_rows": ("id,name,x", "7", ["1,n", "1,n,7,extra"], True),
    "header_row_repeated": ("id,name,x", "7", ["id,name,x"], True),
    "duplicate_headers": ("id,x,x", "7", ["1,8,9"], False),
    "reserved_marker_header": ("id,_duva_malformed,x", "7", ["1,m,8"], False),
    # columns null throughout the sample, then filled: no number parser
    # takes these values, so the column stays TEXT in one scan
    "late_words": ("id,name,x", "", ["1,n,seven", "2,n,Inf-ish", "3,n,7 kg"], False),
    "late_dates": ("id,name,x", "", ["1,n,2024-01-01", "2,n,2024-01-02T10:00:00+03:00"], False),
    # ... but these may be numbers, so the exact path decides
    "late_fractions": ("id,name,x", "", ["1,n,1.5", "2,n, 2", "3,n,NaN"], True),
    "late_words_then_number": ("id,name,x", "", ["1,n,seven", "2,n,7"], True),
    "late_thousands": ("id,name,x", "", ['1,n,"1,000"'], True),
    "late_hex_double": ("id,name,x", "", ["1,n,0x1p3"], True),
}


def _rows(df) -> list[str]:
    return sorted(repr(r) for r in df.collect())  # repr: NaN equals NaN


def _corpus_csv(tmp_path, case: str) -> tuple[str, bool]:
    """1,200 data lines: the sample's ``SAMPLE_ROWS`` lines, then the
    case's surprise lines, padded with sample-like lines. Returns the
    path and whether the sync must fall back."""
    from duva_spark.sources.csv_source import SAMPLE_ROWS

    p = tmp_path / f"{case}.csv"
    if case in _SURPRISES:
        header, x, extra, fallback = _SURPRISES[case]
        lines = [f"{i},name{i},{x}" for i in range(SAMPLE_ROWS)] + extra
        lines += [f"{i},name{i},{x}" for i in range(len(lines), 1200)]
        p.write_text(f"{header}\n" + "\n".join(lines) + "\n", encoding="utf-8")
        return str(p), fallback
    body = [f"{i},name{i},{i * 0.5}" for i in range(1200)]
    if case == "blank_head_lines":
        p.write_text("\ufeff\n  \nid,name,x\n" + "\n".join(body[:500]) + "\n \n\n" + "\n".join(body[500:]) + "\n")
        return str(p), False
    if case == "cr_line_ends":
        p.write_text("id,name,x\r" + "\r".join(body) + "\r", newline="")
        return str(p), False
    if case == "cr_line_ends_over_1mib":
        body = [f"{i},{'n' * 1000}{i},{i * 0.5}" for i in range(1200)]
        p.write_text("id,name,x\r" + "\r".join(body) + "\r", newline="")
        assert p.stat().st_size > 1 << 20
        return str(p), False
    if case == "crlf_torn_between_blocks":
        # the \r of the first data line is the last byte of the sample
        # reader's first 64 KiB block, its \n the first of the next
        head = "id,name,x\r\n0,"
        first = head + "n" * ((1 << 16) - 1 - len(head) - len(",0.0")) + ",0.0\r\n"
        assert first.index("\r", len(head)) == (1 << 16) - 1
        p.write_text(first + "\r\n".join(body[1:]) + "\r\n", newline="")
        return str(p), False
    # header_in_null_sample: a repeat of the header line is the only value
    # the sample holds; inference skips it, so both columns are null there
    lines = [","] * 5 + ["a,b"] + [","] * SAMPLE_ROWS + ["1,2"] * 194
    p.write_text("a,b\n" + "\n".join(lines) + "\n")
    return str(p), True


@pytest.mark.parametrize(
    "case",
    sorted(_SURPRISES)
    + [
        "blank_head_lines",
        "cr_line_ends",
        "cr_line_ends_over_1mib",
        "crlf_torn_between_blocks",
        "header_in_null_sample",
    ],
)
def test_sync_commit_equals_exact_path(spark, tmp_path, case):
    """The one-scan sync commits the schema and rows of the exact path
    (whole-file inference), and falls back to it only where the sample's
    candidate schema cannot be confirmed by the commit scan."""
    from duva_spark.metrics import MetricsRegistry
    from duva_spark.orchestration import MetadataStore, SyncJob

    path, fallback = _corpus_csv(tmp_path, case)
    reg = MetricsRegistry()
    job = SyncJob(spark, MetadataStore(tmp_path / "c.json"), tmp_path, lambda _id: path, metrics=reg)
    out = str(tmp_path / "out")
    exact = read_csv_duva(spark, path)
    assert job.run("d", out) == exact.count()
    got = spark.read.parquet(out)
    assert got.schema == exact.schema
    assert _rows(got) == _rows(exact)
    assert reg.schema_fallbacks.value == (1 if fallback else 0)


def test_sampled_read_of_header_only_export_is_empty(spark, tmp_path):
    from duva_spark.sources.csv_source import read_csv_sampled

    p = tmp_path / "header.csv"
    p.write_text("a,b\n")
    sampled = read_csv_sampled(spark, str(p))
    sampled.df.write.format("noop").mode("overwrite").save()
    assert sampled.verdict() == "empty"
    p.write_text("")
    assert read_csv_sampled(spark, str(p)) is None


def test_sampled_read_leaves_no_sample_file(spark, tmp_path):
    """The sample is copied next to the export and removed after use."""
    from duva_spark.sources.csv_source import read_csv_sampled

    with pytest.raises(FileNotFoundError):
        read_csv_sampled(spark, str(tmp_path / "missing.csv"))
    path, _ = _corpus_csv(tmp_path, "plus_sign")
    read_csv_sampled(spark, path)
    assert sorted(p.name for p in tmp_path.iterdir()) == ["plus_sign.csv"]


def test_sampled_read_checks_columns_the_shape_prunes(spark, tmp_path):
    """A malformed value in a column the caller never selects still fails
    the scan: the observation keeps every column in it."""
    from duva_spark.sources.csv_source import read_csv_sampled, sample_mismatch

    path, _ = _corpus_csv(tmp_path, "text_after_doubles")
    sampled = read_csv_sampled(spark, path)
    with pytest.raises(Exception) as failed:
        sampled.df.select("id").write.format("noop").mode("overwrite").save()
    assert sample_mismatch(failed.value)


def test_json_source_with_schema(spark, tmp_path):
    """JSON source (SURVEY §2b scans row): explicit schema, no inference."""
    p = tmp_path / "data.jsonl"
    p.write_text('{"id": 1, "tags": ["a","b"], "meta": {"x": 2.5}}\n{"id": 2, "tags": [], "meta": {"x": null}}\n')
    df = spark.read.schema("id long, tags array<string>, meta struct<x:double>").json(str(p))
    rows = {r.id: r for r in df.collect()}
    assert rows[1].tags == ["a", "b"] and rows[1].meta.x == 2.5
    assert rows[2].meta.x is None


def test_orc_roundtrip(spark, tmp_path):
    out = str(tmp_path / "orc")
    spark.createDataFrame([(1, "a")], "id long, v string").write.orc(out)
    assert spark.read.orc(out).collect()[0].v == "a"


def test_merge_upsert_incremental_sync(spark, tmp_path):
    """Upsert keyed on _id: updated rows replaced, new rows appended,
    untouched rows preserved — the incremental alternative to duva's
    full refresh."""
    from duva_spark.sinks import merge_upsert

    out = str(tmp_path / "ds")
    first = spark.createDataFrame(
        [(1, "alice", 10.0), (2, "bob", 20.0), (3, "carol", 30.0)],
        "`_id` long, name string, score double",
    )
    assert merge_upsert(spark, first, out, "_id") == 3
    second = spark.createDataFrame(
        [(2, "bob", 99.0), (4, "dave", 40.0)], "`_id` long, name string, score double"
    )
    assert merge_upsert(spark, second, out, "_id") == 4
    rows = {r._id: (r.name, r.score) for r in spark.read.parquet(out).collect()}
    assert rows == {1: ("alice", 10.0), 2: ("bob", 99.0), 3: ("carol", 30.0), 4: ("dave", 40.0)}


def test_merge_upsert_pointer_commit_never_renames_a_directory(spark, tmp_path, monkeypatch):
    """Object-store simulation: directory renames are impossible (S3 has
    no rename); the pointer commit must still upsert correctly, and the
    live dataset must be readable at every step."""
    import os

    from duva_spark.sinks import merge_upsert, read_dataset

    real_rename = os.rename

    def no_dir_rename(src, dst, **kw):
        if os.path.isdir(src):
            raise OSError(f"simulated object store: cannot rename directory {src}")
        return real_rename(src, dst, **kw)

    monkeypatch.setattr(os, "rename", no_dir_rename)
    out = str(tmp_path / "ds")
    first = spark.createDataFrame([(1, "a"), (2, "b")], "`_id` long, v string")
    assert merge_upsert(spark, first, out, "_id", commit="pointer") == 2
    assert {r._id for r in read_dataset(spark, out).collect()} == {1, 2}
    second = spark.createDataFrame([(2, "B"), (3, "c")], "`_id` long, v string")
    assert merge_upsert(spark, second, out, "_id", commit="pointer") == 3
    rows = {r._id: r.v for r in read_dataset(spark, out).collect()}
    assert rows == {1: "a", 2: "B", 3: "c"}
    # Superseded version directories were garbage-collected.
    assert [d for d in os.listdir(out) if d.startswith("v")] == ["v1"]


def test_merge_upsert_recovers_from_crashed_swap(spark, tmp_path):
    """A crash between the two renames (dataset absent, __old present)
    and stale __staging leftovers are both repaired at the next call."""
    import os

    from duva_spark.sinks import merge_upsert

    out = str(tmp_path / "ds")
    first = spark.createDataFrame([(1, "a"), (2, "b")], "`_id` long, v string")
    merge_upsert(spark, first, out, "_id")
    # Simulate: crash after rename(path → __old), before rename(staging → path),
    # with a half-written staging dir also left behind.
    os.rename(out, f"{out}__old")
    os.makedirs(f"{out}__staging")
    (tmp_path / "ds__staging" / "part-junk").write_text("partial")
    second = spark.createDataFrame([(3, "c")], "`_id` long, v string")
    assert merge_upsert(spark, second, out, "_id") == 3  # recovered + merged
    assert {r._id for r in spark.read.parquet(out).collect()} == {1, 2, 3}
    assert not os.path.exists(f"{out}__old") and not os.path.exists(f"{out}__staging")


def test_pointer_time_travel_and_vacuum(spark, tmp_path):
    """retain=3 keeps trailing versions readable as of their commit
    (Delta VERSION AS OF on the pointer scheme); vacuum prunes to the
    requested horizon and read_version raises past it."""
    import pytest as _pytest

    from duva_spark.sinks import (
        list_versions,
        merge_upsert,
        read_dataset,
        read_version,
        vacuum,
    )

    out = str(tmp_path / "ds")
    for i, batch in enumerate([[(1, "a")], [(2, "b")], [(2, "B"), (3, "c")], [(4, "d")]]):
        df = spark.createDataFrame(batch, "`_id` long, v string")
        merge_upsert(spark, df, out, "_id", commit="pointer", retain=3)
    assert list_versions(out) == [1, 2, 3]  # v0 vacuumed, 3 retained
    assert {r._id for r in read_dataset(spark, out).collect()} == {1, 2, 3, 4}
    # time travel: v1 was the state after the second commit
    assert {r._id for r in read_version(spark, out, 1).collect()} == {1, 2}
    assert {r._id: r.v for r in read_version(spark, out, 2).collect()}[2] == "B"
    assert vacuum(out, retain=1) == [1, 2]
    with _pytest.raises(FileNotFoundError, match="retained"):
        read_version(spark, out, 1)
    assert {r._id for r in read_dataset(spark, out).collect()} == {1, 2, 3, 4}


def test_merge_upsert_auto_falls_back_to_pointer_without_jars(spark, tmp_path):
    """commit='auto' = native MERGE when Delta/Iceberg is in the session,
    else the pointer-commit emulation. This environment ships no table-
    format jars, so detection must return None and auto must produce the
    exact pointer-commit result; commit='native' must refuse loudly."""
    import pytest as _pytest

    from duva_spark import sinks
    from duva_spark.sinks import merge_upsert, native_merge_backend, read_dataset

    assert native_merge_backend(spark) is None
    out = str(tmp_path / "auto_ds")
    first = spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", 2.0)], "`_id` long, name string, score double"
    )
    assert merge_upsert(spark, first, out, "_id", commit="auto") == 2
    second = spark.createDataFrame(
        [(2, "b", 9.0), (3, "c", 3.0)], "`_id` long, name string, score double"
    )
    assert merge_upsert(spark, second, out, "_id", commit="auto") == 3
    rows = {r._id: r.score for r in read_dataset(spark, out).collect()}
    assert rows == {1: 1.0, 2: 9.0, 3: 3.0}
    assert sinks._pointer_read_path(out) is not None  # pointer layout used
    with _pytest.raises(RuntimeError, match="native"):
        merge_upsert(spark, second, out, "_id", commit="native")


def test_native_merge_backend_detects_extensions(spark, monkeypatch):
    """Config-based detection: the Delta extension string plus importable
    python bindings → 'delta'; Iceberg extension alone → 'iceberg'."""
    import sys
    import types

    from duva_spark.sinks import native_merge_backend

    class FakeConf:
        def __init__(self, ext):
            self._ext = ext

        def get(self, key, default=None):
            return self._ext if key == "spark.sql.extensions" else default

    class FakeSpark:
        def __init__(self, ext):
            self.conf = FakeConf(ext)

    assert native_merge_backend(FakeSpark("")) is None
    iceberg = "org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions"
    assert native_merge_backend(FakeSpark(iceberg)) == "iceberg"
    delta_ext = "io.delta.sql.DeltaSparkSessionExtension"
    # no `delta` module importable → stay None (jar without bindings)
    assert native_merge_backend(FakeSpark(delta_ext)) is None
    monkeypatch.setitem(sys.modules, "delta", types.ModuleType("delta"))
    assert native_merge_backend(FakeSpark(delta_ext)) == "delta"


# ---------------------------------------------------------------------------
# The product path against a live OnaData export server
# ---------------------------------------------------------------------------


@pytest.fixture()
def onadata_server():
    """Live HTTP server speaking the reference's async-export protocol:
    poll 1 answers a job_uuid, poll 2 (with the uuid re-attached) answers
    SUCCESS + export_url, which serves the CSV (with S4 null tokens)."""
    import json as _json
    import threading
    from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

    csv_body = (
        "name,age,score,notes\n"
        "alice,34,1.5,ok\n"
        "bob,n/a,2.25,\n"
        "carol,41,,fine\n"
        + "".join(f"u{i},{i},{i}.5,x\n" for i in range(50))
    )
    state = {"polls": []}

    class Handler(BaseHTTPRequestHandler):
        def log_message(self, *a):
            pass

        def do_GET(self):
            if self.path.startswith("/export_async"):
                state["polls"].append(self.path)
                if "job_uuid" not in self.path:
                    payload = {"job_uuid": "abc123"}
                else:
                    base = f"http://127.0.0.1:{self.server.server_address[1]}"
                    payload = {"job_status": "SUCCESS", "export_url": f"{base}/data.csv"}
                body = _json.dumps(payload).encode()
                self.send_response(202)
            else:
                body = csv_body.encode()
                self.send_response(200)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

    server = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    threading.Thread(target=server.serve_forever, daemon=True).start()
    yield f"http://127.0.0.1:{server.server_address[1]}", state
    server.shutdown()


def test_sync_job_over_live_onadata_export(spark, onadata_server, tmp_path):
    """SyncJob with the real fetch and its default urllib getters: poll
    the async export (S1, job_uuid re-attached), download (S2/S3), type
    as BIGINT/DOUBLE/TEXT (S5) and commit S4 null tokens as NULL."""
    import os

    from duva_spark.orchestration import MetadataStore, SyncJob
    from duva_spark.sources.http import fetch_to_local, poll_async_export

    base, state = onadata_server
    start = f"{base}/export_async?format=csv"
    fetched = []

    def fetch(_id):
        fetched.append(fetch_to_local(poll_async_export(start, sleep=lambda _: None)))
        return fetched[-1]

    job = SyncJob(spark, MetadataStore(tmp_path / "catalog.json"), tmp_path, fetch=fetch)
    out = str(tmp_path / "out")
    try:
        assert job.run("form", out) == 53
    finally:
        for p in fetched:
            os.unlink(p)
    assert state["polls"] == [
        "/export_async?format=csv",
        "/export_async?format=csv&job_uuid=abc123",
    ]
    df = spark.read.parquet(out)
    assert df.dtypes == [
        ("name", "string"), ("age", "bigint"), ("score", "double"), ("notes", "string"),
    ]
    rows = {r["name"]: r for r in df.collect()}
    assert rows["alice"]["age"] == 34 and rows["alice"]["score"] == 1.5
    assert rows["bob"]["age"] is None and rows["bob"]["notes"] is None  # "n/a", ""
    assert rows["carol"]["score"] is None  # ""


def test_native_merge_interaction_pinned(monkeypatch):
    """The native MERGE branch cannot execute here (no Delta/Iceberg
    jars, no network), so pin its API interaction instead: module-shaped
    doubles record every call _native_merge_upsert makes, and the test
    asserts the exact DeltaTable call chain / Iceberg MERGE SQL a real
    backend would receive — the call signature is locked even though the
    engine underneath is absent (r5 verdict item 4 fallback)."""
    import sys
    import types

    from duva_spark.sinks import _native_merge_upsert

    log: list = []

    class FakeChain:
        """Records method calls; every call returns the chain again."""

        def __init__(self, name):
            self._name = name

        def __getattr__(self, attr):
            def call(*a):
                log.append((f"{self._name}.{attr}", a))
                return FakeChain(self._name)

            return call

    class FakeWriteChain(FakeChain):
        pass

    class FakeDF:
        def __init__(self, name="df"):
            self._name = name

        def alias(self, a):
            log.append(("df.alias", (a,)))
            return ("aliased_df", a)

        def createOrReplaceTempView(self, v):
            log.append(("df.tempview", (v,)))

        @property
        def write(self):
            return FakeChain("write")

    class FakeCountable:
        def count(self):
            return 7

    class FakeReader:
        def format(self, f):
            log.append(("read.format", (f,)))
            return self

        def load(self, p):
            log.append(("read.load", (p,)))
            return FakeCountable()

    class FakeSpark:
        @property
        def read(self):
            return FakeReader()

        def sql(self, text):
            log.append(("spark.sql", (text,)))

        def table(self, t):
            log.append(("spark.table", (t,)))
            return FakeCountable()

    class FakeDeltaTable:
        _exists = True

        @staticmethod
        def isDeltaTable(spark, path):
            log.append(("isDeltaTable", (path,)))
            return FakeDeltaTable._exists

        @staticmethod
        def forPath(spark, path):
            log.append(("forPath", (path,)))
            return FakeChain("t")

    delta_mod = types.ModuleType("delta")
    tables_mod = types.ModuleType("delta.tables")
    tables_mod.DeltaTable = FakeDeltaTable
    delta_mod.tables = tables_mod
    monkeypatch.setitem(sys.modules, "delta", delta_mod)
    monkeypatch.setitem(sys.modules, "delta.tables", tables_mod)

    # --- Delta, table exists: the MERGE chain, exactly ----------------
    n = _native_merge_upsert(FakeSpark(), FakeDF(), "/data/tbl", "_id", "delta")
    assert n == 7
    assert log == [
        ("isDeltaTable", ("/data/tbl",)),
        ("forPath", ("/data/tbl",)),
        ("t.alias", ("t",)),
        ("df.alias", ("s",)),  # argument evaluates before the merge call
        ("t.merge", (("aliased_df", "s"), "t._id = s._id")),
        ("t.whenMatchedUpdateAll", ()),
        ("t.whenNotMatchedInsertAll", ()),
        ("t.execute", ()),
        ("read.format", ("delta",)),
        ("read.load", ("/data/tbl",)),
    ]

    # --- Delta, table absent: bootstrap overwrite ---------------------
    log.clear()
    FakeDeltaTable._exists = False
    n = _native_merge_upsert(FakeSpark(), FakeDF(), "/data/new", "_id", "delta")
    assert n == 7
    assert ("isDeltaTable", ("/data/new",)) in log
    assert ("write.format", ("delta",)) in log
    assert ("write.mode", ("overwrite",)) in log
    assert ("write.save", ("/data/new",)) in log
    assert ("forPath", ("/data/new",)) not in log  # no merge on bootstrap

    # --- Iceberg: SQL-only MERGE INTO ---------------------------------
    log.clear()
    n = _native_merge_upsert(FakeSpark(), FakeDF(), "cat.db.tbl", "_id", "iceberg")
    assert n == 7
    assert log[0] == ("df.tempview", ("_merge_source",))
    kind, (sql_text,) = log[1]
    assert kind == "spark.sql"
    assert sql_text == (
        "MERGE INTO cat.db.tbl t USING _merge_source s ON t._id = s._id "
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"
    )
    assert log[2] == ("spark.table", ("cat.db.tbl",))
