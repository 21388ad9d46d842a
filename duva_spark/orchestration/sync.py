"""The composite sync job: duva's EP2 data path around a SparkSession.

Pipeline (reference: app/core/importer.py:126-225):
  lock → status=syncing → fetch export (injectable) → sampled CSV read
  with duva semantics → shaping transforms → Parquet write to a staging
  dir (row count reported) → swap into place → status=file_available;
  any failure increments the consecutive-failure counter and flips
  status, hitting the ≥3 auto-deactivate cap.

What duva did in five materializations (CSV → pandas → rewritten CSV →
Hyper COPY → S3 re-upload, importer.py:61-73/:251-255 +
crud_hyperfile.py:64-82) is one Spark job over the export here: scan →
transform → Parquet write. The schema comes from Spark's inference over
the export's first ``SAMPLE_ROWS`` lines (three tiny jobs on a copy of
them), and the same scan that writes checks it (`read_csv_sampled`). The
staging dir replaces the live dataset only when that check passes; on an
empty export the live dataset is never touched and ``EmptyInputError`` is
raised. The scan stops at the first row that fails the check (a value
the candidate type cannot convert, or one that may be a number in a
column null throughout the sample); the staging dir is then discarded
and the exact path (`read_csv_duva`: whole-file inference, an empty
check, then the write) runs into it instead (stage ``fallback``). Later
syncs of that dataset take the exact path directly.

The swap is a directory rename, so `out_path` must be a local filesystem
path (or a ``file:`` URI).
"""

from __future__ import annotations

import shutil
import time
from collections.abc import Callable
from contextlib import contextmanager, nullcontext
from pathlib import Path
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession

from duva_spark.orchestration.lock import DatasetLock, LockHeld
from duva_spark.orchestration.state import FileStatus, MetadataStore
from duva_spark.sinks import full_refresh, recover_swap, staging_path, swap_staged
from duva_spark.sources.csv_source import read_csv_duva, read_csv_sampled, sample_mismatch


def _local_path(out_path: str) -> str:
    """`out_path` as a local filesystem path; raises for other schemes."""
    url = urlparse(out_path)
    if url.scheme == "file":
        return url.path
    if url.scheme:
        raise ValueError(
            f"sync out_path must be a local filesystem path, got {out_path!r}: "
            "the commit swaps directories with os.rename"
        )
    return out_path


class SyncJob:
    def __init__(
        self,
        spark: SparkSession,
        store: MetadataStore,
        lock_dir: str | Path,
        fetch: Callable[[str], Path],
        shape: Callable[[DataFrame], DataFrame] | None = None,
        metrics=None,
    ):
        self.spark = spark
        self.store = store
        self.lock_dir = lock_dir
        self.fetch = fetch  # dataset_id -> local CSV path (HTTP source, S3, ...)
        # The commit scan checks the sampled schema, so `shape` must read
        # every input row (no limit/sample).
        self.shape = shape or (lambda df: df)
        # duva_spark.metrics.MetricsRegistry when metric reporting is on
        # (the reference's gauge + success/failure counters, C7).
        self.metrics = metrics
        # Datasets whose sampled schema failed its check. A full refresh
        # mostly re-sends the previous export plus new rows, so the next
        # sync would fail the check again: they take the exact path for
        # the life of this job. Runs of one dataset never overlap (the
        # dataset lock), and set add/lookup are atomic.
        self._exact_only: set[str] = set()

    @contextmanager
    def _stage(self, name: str):
        """Time a stage; only one that completes is reported."""
        t0 = time.perf_counter()
        yield
        if self.metrics:
            self.metrics.observe_sync_stage(name, time.perf_counter() - t0)

    def run(self, dataset_id: str, out_path: str) -> int:
        """Run one sync; returns rows loaded. Raises on failure after
        recording it (caller decides on retry/cancel, as the reference's
        worker does)."""
        out_path = _local_path(out_path)
        state = self.store.get(dataset_id)
        if not state.is_active:
            raise RuntimeError(f"dataset {dataset_id} is deactivated after repeated failures")
        try:
            with DatasetLock(self.lock_dir, dataset_id):
                # Gauge/counters wrap the actual import only — a LockHeld
                # bounce (202) is not an import attempt.
                with self.metrics.track_sync() if self.metrics else nullcontext():
                    self.store.update_status(dataset_id, FileStatus.SYNCING)
                    try:
                        recover_swap(out_path)
                        with self._stage("fetch"):
                            csv_path = str(self.fetch(dataset_id))
                        n = self._commit(dataset_id, csv_path, out_path)
                    except Exception as exc:
                        self.store.record_failure(dataset_id, repr(exc))
                        raise
                    self.store.record_success(dataset_id)
                    return n
        except LockHeld:
            # concurrent sync in flight — leave state untouched (the
            # reference returns 202 Already Syncing, file.py:163-201)
            raise

    def _commit(self, dataset_id: str, csv_path: str, out_path: str) -> int:
        """Write the shaped export to the staging dir and swap it in; the
        live dataset is replaced only after a verified write."""
        staging = staging_path(out_path)
        try:
            n = None
            if dataset_id not in self._exact_only:
                n = self._sampled_commit(csv_path, staging)
            if n is None:
                # The exact path; it raises EmptyInputError for empty input.
                with self._stage("fallback"):
                    n = full_refresh(self.shape(read_csv_duva(self.spark, csv_path)), staging)
                self._exact_only.add(dataset_id)
                if self.metrics:
                    self.metrics.inc(self.metrics.schema_fallbacks)
            with self._stage("swap"):
                swap_staged(out_path)
            return n
        except BaseException:
            shutil.rmtree(staging, ignore_errors=True)
            raise

    def _sampled_commit(self, csv_path: str, staging: str) -> int | None:
        """Commit with the sample's schema, checked by the commit scan;
        None (and no staging dir) when the exact path must run instead."""
        with self._stage("sample"):
            read = read_csv_sampled(self.spark, csv_path)
        if read is None:
            return None
        with self._stage("commit"):
            try:
                n = full_refresh(self.shape(read.df), staging)
            except Exception as exc:
                if not sample_mismatch(exc):
                    raise
                n = None
        if n is not None and read.verdict() == "ok":
            return n
        shutil.rmtree(staging, ignore_errors=True)
        return None
