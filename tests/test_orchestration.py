"""Control-plane semantics: state transitions, failure cap, locking, and
the end-to-end sync job (reference: EP2 flow + hyper_utils.py:222-268)."""

from __future__ import annotations

import pytest

from duva_spark.orchestration import (
    FAILURE_CAP,
    DatasetLock,
    FileStatus,
    LockHeld,
    MetadataStore,
    SyncJob,
)

CSV_OK = "name,age\nalice,34\nbob,41\n"


def _store(tmp_path):
    return MetadataStore(tmp_path / "catalog.json")


def test_success_path_resets_failures(spark, tmp_path):
    store = _store(tmp_path)
    store.get("d1").sync_failures = 2
    csv = tmp_path / "d1.csv"
    csv.write_text(CSV_OK)
    job = SyncJob(spark, store, tmp_path, fetch=lambda _id: csv)
    n = job.run("d1", str(tmp_path / "out"))
    assert n == 2
    s = store.get("d1")
    assert s.file_status == FileStatus.FILE_AVAILABLE.value
    assert s.sync_failures == 0 and s.last_updated is not None


def test_three_failures_deactivate(spark, tmp_path):
    store = _store(tmp_path)

    def bad_fetch(_id):
        raise IOError("export download failed")

    job = SyncJob(spark, store, tmp_path, fetch=bad_fetch)
    for i in range(FAILURE_CAP):
        with pytest.raises(IOError):
            job.run("d2", str(tmp_path / "out"))
    s = store.get("d2")
    assert s.is_active is False
    assert s.sync_failures == FAILURE_CAP
    assert s.file_status == FileStatus.LATEST_SYNC_FAILED.value
    # further runs refuse outright
    with pytest.raises(RuntimeError, match="deactivated"):
        job.run("d2", str(tmp_path / "out"))


def test_lock_excludes_concurrent_sync(tmp_path):
    with DatasetLock(tmp_path, "d3"):
        with pytest.raises(LockHeld):
            with DatasetLock(tmp_path, "d3"):
                pass
    # released → acquirable again
    with DatasetLock(tmp_path, "d3"):
        pass


def test_state_survives_store_reload(tmp_path):
    store = _store(tmp_path)
    store.record_failure("d4", "boom")
    reloaded = MetadataStore(tmp_path / "catalog.json")
    s = reloaded.get("d4")
    assert s.sync_failures == 1 and s.failure_reason == "boom"


def test_empty_export_records_failure(spark, tmp_path):
    store = _store(tmp_path)
    csv = tmp_path / "empty.csv"
    csv.write_text("a,b\n")
    job = SyncJob(spark, store, tmp_path, fetch=lambda _id: csv)
    with pytest.raises(Exception):
        job.run("d5", str(tmp_path / "out"))
    assert store.get("d5").sync_failures == 1


def _files(root) -> dict[str, bytes]:
    from pathlib import Path

    return {
        str(f.relative_to(root)): f.read_bytes() for f in Path(root).rglob("*") if f.is_file()
    }


def _synced(spark, tmp_path, **kw):
    """A store, a job over ``tmp_path / "export.csv"`` and a first commit."""
    csv = tmp_path / "export.csv"
    csv.write_text(CSV_OK)
    store = _store(tmp_path)
    job = SyncJob(spark, store, tmp_path, fetch=lambda _id: csv, **kw)
    out = tmp_path / "out"
    assert job.run("d", str(out)) == 2
    return store, job, out, csv


def test_failed_write_leaves_previous_commit_byte_identical(spark, tmp_path):
    from pyspark.sql import functions as F

    state = {"fail": False}

    def shape(df):  # raises inside the write's tasks, not while planning
        return df.withColumn("age", F.assert_true(F.col("age") < 0)) if state["fail"] else df

    store, job, out, _ = _synced(spark, tmp_path, shape=shape)
    before = _files(out)
    state["fail"] = True
    with pytest.raises(Exception, match="age"):
        job.run("d", str(out))
    assert _files(out) == before
    assert not (tmp_path / "out__staging").exists()
    assert store.get("d").sync_failures == 1


def test_header_only_export_leaves_previous_commit_unchanged(spark, tmp_path):
    from duva_spark.sources.csv_source import EmptyInputError

    store, job, out, csv = _synced(spark, tmp_path)
    before = _files(out)
    csv.write_text("name,age\n")
    with pytest.raises(EmptyInputError):
        job.run("d", str(out))
    assert _files(out) == before
    assert not (tmp_path / "out__staging").exists()
    assert store.get("d").sync_failures == 1


@pytest.mark.parametrize("live", [False, True])
def test_crash_leftovers_recovered_at_next_sync(spark, tmp_path, live):
    """A crash between the swap's renames leaves ``__old`` and no live
    dataset; one before the final cleanup leaves both. Either way, with a
    half-written ``__staging`` too, the next sync commits cleanly."""
    import os
    import shutil

    store, job, out, csv = _synced(spark, tmp_path)
    if live:
        shutil.copytree(out, f"{out}__old")
    else:
        os.rename(out, f"{out}__old")
    os.makedirs(f"{out}__staging")
    (tmp_path / "out__staging" / "part-junk").write_text("partial")
    csv.write_text(CSV_OK + "carol,29\n")
    assert job.run("d", str(out)) == 3
    assert sorted(r.name for r in spark.read.parquet(str(out)).collect()) == ["alice", "bob", "carol"]
    assert "part-junk" not in os.listdir(out)
    assert not os.path.exists(f"{out}__old") and not os.path.exists(f"{out}__staging")


def test_non_local_out_path_fails_before_anything_is_written(spark, tmp_path):
    fetched = []
    store = _store(tmp_path)
    job = SyncJob(spark, store, tmp_path, fetch=fetched.append)
    with pytest.raises(ValueError, match="local filesystem path"):
        job.run("d", "s3a://bucket/datasets/d")
    assert fetched == [] and not (tmp_path / "catalog.json").exists()
    assert store.get("d").sync_failures == 0


def test_file_uri_out_path_commits_locally(spark, tmp_path):
    csv = tmp_path / "export.csv"
    csv.write_text(CSV_OK)
    job = SyncJob(spark, _store(tmp_path), tmp_path, fetch=lambda _id: csv)
    assert job.run("d", (tmp_path / "out").as_uri()) == 2
    assert spark.read.parquet(str(tmp_path / "out")).count() == 2


def test_dataset_that_fell_back_takes_the_exact_path_next(spark, tmp_path):
    """Once a dataset's sampled schema fails its check, its later syncs
    skip the sample; other datasets and a new job still try it."""
    from duva_spark.metrics import MetricsRegistry
    from duva_spark.sources.csv_source import SAMPLE_ROWS

    ages = [f"p{i},{i % 90}" for i in range(SAMPLE_ROWS)]
    late = tmp_path / "late.csv"
    late.write_text("name,age\n" + "\n".join(ages + ["late,33.5"]) + "\n")
    clean = tmp_path / "clean.csv"
    clean.write_text("name,age\n" + "\n".join(ages) + "\n")
    exports = {"d": late, "e": clean}

    def job():
        reg = MetricsRegistry()
        return SyncJob(spark, _store(tmp_path), tmp_path, exports.__getitem__, metrics=reg), reg

    def runs(reg, stage):
        return reg._stage_seconds[stage][1]

    first, reg = job()
    for _ in range(2):
        assert first.run("d", str(tmp_path / "out_d")) == SAMPLE_ROWS + 1
    assert (runs(reg, "sample"), runs(reg, "fallback")) == (1, 2)
    assert reg.schema_fallbacks.value == 2
    first.run("e", str(tmp_path / "out_e"))
    assert (runs(reg, "sample"), runs(reg, "fallback")) == (2, 2)
    second, reg = job()
    second.run("d", str(tmp_path / "out_d"))
    assert (runs(reg, "sample"), runs(reg, "fallback")) == (1, 1)
    assert dict(spark.read.parquet(str(tmp_path / "out_d")).dtypes)["age"] == "double"


def test_http_source_retry_and_poll():
    from duva_spark.sources.http import (
        FailedExternalRequest,
        fetch_to_local,
        poll_async_export,
    )

    calls = []

    def flaky(url):
        calls.append(url)
        return (503, b"") if len(calls) < 3 else (200, b"a,b\n1,2\n")

    p = fetch_to_local("http://x/export.csv", flaky, sleep=lambda _: None)
    assert p.read_text() == "a,b\n1,2\n" and len(calls) == 3

    with pytest.raises(FailedExternalRequest):
        fetch_to_local("http://x/gone", lambda u: (404, b""), sleep=lambda _: None)

    polls = []

    def poller(url):
        polls.append(url)
        if len(polls) == 1:
            return (202, {"job_uuid": "j1", "job_status": "PENDING"})
        return (202, {"job_status": "SUCCESS", "export_url": "http://x/data.csv"})

    url = poll_async_export("http://x/export_async.json?format=csv", poller, sleep=lambda _: None)
    assert url == "http://x/data.csv"
    assert "job_uuid=j1" in polls[1]  # re-attaches the job id (onadata.py:113-116)


def test_stale_lock_reclaimed_when_holder_dead(tmp_path):
    from duva_spark.orchestration.lock import DatasetLock, LockHeld

    # Simulate a kill -9: lockfile left behind by a process that's gone.
    dead = DatasetLock(tmp_path, "ds1")
    stale = tmp_path / dead._path.name
    stale.write_text("999999999")  # PID far beyond pid_max → not alive
    with DatasetLock(tmp_path, "ds1"):  # reclaims, doesn't raise
        with pytest.raises(LockHeld):  # but a live holder still excludes
            DatasetLock(tmp_path, "ds1").__enter__()


def test_unreadable_lock_respects_ttl(tmp_path):
    import os
    import time

    from duva_spark.orchestration.lock import DatasetLock, LockHeld

    lock = DatasetLock(tmp_path, "ds2", stale_ttl=3600)
    stale = tmp_path / lock._path.name
    stale.write_text("garbage")  # partial write: no parseable PID
    with pytest.raises(LockHeld):  # fresh mtime → still held
        lock.__enter__()
    old = time.time() - 7200
    os.utime(stale, (old, old))
    with DatasetLock(tmp_path, "ds2", stale_ttl=3600):  # past TTL → reclaimed
        pass


def test_store_flush_is_atomic_and_thread_safe(tmp_path):
    import json
    import threading

    from duva_spark.orchestration.state import MetadataStore

    store = MetadataStore(tmp_path / "meta.json")

    def spin(ds):
        for _ in range(25):
            store.record_success(ds)
            store.record_failure(ds, "boom")

    threads = [threading.Thread(target=spin, args=(f"d{i}",)) for i in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    # No lost rows, no torn file, no leftover temp files.
    data = json.loads((tmp_path / "meta.json").read_text())["rows"]
    assert sorted(data) == [f"d{i}" for i in range(8)]
    assert not list(tmp_path.glob("*.tmp"))


def test_salted_join_rejects_build_preserving_types(spark):
    from duva_spark.operators.skew import salted_join

    probe = spark.createDataFrame([(1, "a")], "k long, p string")
    build = spark.createDataFrame([(1, "x"), (2, "y")], "k long, b string")
    with pytest.raises(ValueError, match="probe-preserving"):
        salted_join(probe, build, "k", how="right")
    with pytest.raises(ValueError, match="probe-preserving"):
        salted_join(probe, build, "k", how="full_outer")
    assert salted_join(probe, build, "k", how="left").count() == 1


def test_fetch_no_sleep_after_final_attempt():
    from duva_spark.sources.http import FailedExternalRequest, fetch_to_local

    sleeps = []
    with pytest.raises(FailedExternalRequest):
        fetch_to_local("http://x", lambda u: (503, b""), retries=3, sleep=sleeps.append)
    assert len(sleeps) == 3  # one per retry gap, none after the last try


def test_store_v1_file_upgrades_to_current(tmp_path):
    """Round-trip a v(N-1) store file: a bare v1 mapping (no
    schema_version stamp, missing later-added fields) loads through the
    upgrade shim, backfills defaults, and is re-persisted stamped at
    SCHEMA_VERSION — r5 verdict item 3 (alembic-parity upgrade path)."""
    import json

    from duva_spark.orchestration.state import (
        SCHEMA_VERSION,
        FileStatus,
        MetadataStore,
    )

    p = tmp_path / "store.json"
    # v1 on-disk form: bare {dataset_id: row}, pre-dating job_id/
    # failure_reason fields
    p.write_text(
        json.dumps(
            {
                "ds1": {
                    "dataset_id": "ds1",
                    "file_status": FileStatus.FILE_AVAILABLE.value,
                    "is_active": True,
                    "sync_failures": 1,
                }
            }
        )
    )
    store = MetadataStore(p)
    s = store.get("ds1")
    assert s.sync_failures == 1
    assert s.failure_reason is None  # backfilled default
    assert s.job_id is None
    on_disk = json.loads(p.read_text())
    assert on_disk["schema_version"] == SCHEMA_VERSION
    assert on_disk["rows"]["ds1"]["file_status"] == FileStatus.FILE_AVAILABLE.value
    # and the migrated file round-trips cleanly through a fresh store
    again = MetadataStore(p)
    assert again.get("ds1").sync_failures == 1


def test_store_refuses_future_schema(tmp_path):
    import json

    import pytest as _pytest

    from duva_spark.orchestration.state import (
        SCHEMA_VERSION,
        MetadataSchemaError,
        MetadataStore,
    )

    p = tmp_path / "store.json"
    p.write_text(json.dumps({"schema_version": SCHEMA_VERSION + 1, "rows": {}}))
    with _pytest.raises(MetadataSchemaError):
        MetadataStore(p)


def test_metadata_store_refuses_malformed_rows(tmp_path):
    """A v2-stamped file MISSING the "rows" mapping is corrupt: the load
    must raise the clear MetadataSchemaError, not a cryptic TypeError
    from iterating the envelope keys (ADVICE r6 item 3)."""
    import json

    import pytest as _pytest

    from duva_spark.orchestration.state import (
        SCHEMA_VERSION,
        MetadataSchemaError,
        MetadataStore,
    )

    p = tmp_path / "store.json"
    p.write_text(json.dumps({"schema_version": SCHEMA_VERSION}))
    with _pytest.raises(MetadataSchemaError, match="rows"):
        MetadataStore(p)

    p.write_text(json.dumps({"schema_version": SCHEMA_VERSION, "rows": [1, 2]}))
    with _pytest.raises(MetadataSchemaError, match="rows"):
        MetadataStore(p)
