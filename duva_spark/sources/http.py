"""Remote HTTP export source (reference: OnaData async CSV export).

Reproduces the reference's fetch protocol shape (app/core/onadata.py):
- chunked streaming download to a temp file (:30-45);
- retry/backoff: 3 retries, backoff factor 1.1, on 500/502/503/504
  (:62-68);
- async-export polling: poll while 202/IN-PROGRESS with linear backoff
  sleep(30·(retries+1)), max 3 polls (:117-126).

Spark-first split: the *fetch* is driver-side (a control-plane concern;
at scale the export lands on object storage and executors read it
directly), the *parse* is the distributed CSV read in csv_source. The
HTTP client defaults to urllib and is injectable so tests run without a
network: ``fetch_to_local(poll_async_export(export_url))`` is the real
OnaData fetch.
"""

from __future__ import annotations

import json
import tempfile
import time
import urllib.error
import urllib.request
from collections.abc import Callable
from pathlib import Path

DEFAULT_RETRIES = 3
POLL_SLEEP_BASE = 30  # sleep(30 * (retries+1)), app/core/onadata.py:117-126
RETRY_STATUS = (500, 502, 503, 504)


class FailedExternalRequest(RuntimeError):
    """Mirrors the reference's failure type (app/common_tags.py usage in
    app/core/onadata.py:137-144)."""


def _http_bytes(url: str) -> tuple[int, bytes]:
    try:
        with urllib.request.urlopen(url) as resp:
            return resp.status, resp.read()
    except urllib.error.HTTPError as e:
        return e.code, b""
    except urllib.error.URLError:
        # network-level failure (refused/DNS): surface as a retryable
        # status so fetch_to_local's backoff loop owns it (S3 policy)
        return 503, b""


def _http_json(url: str) -> tuple[int, dict]:
    status, body = _http_bytes(url)
    return status, json.loads(body) if body else {}


def fetch_to_local(
    url: str,
    getter: Callable[[str], tuple[int, bytes]] = _http_bytes,
    retries: int = DEFAULT_RETRIES,
    sleep: Callable[[float], None] = time.sleep,
    backoff: float = 1.1,
) -> Path:
    """Stream `url` to a local temp file with duva's retry policy.

    `getter(url) -> (status_code, body)` abstracts the HTTP client
    (urllib by default).
    """
    last_status = None
    for attempt in range(retries + 1):
        status, body = getter(url)
        if status == 200:
            tmp = tempfile.NamedTemporaryFile(suffix=".csv", delete=False)
            tmp.write(body)
            tmp.close()
            return Path(tmp.name)
        last_status = status
        if status not in RETRY_STATUS:
            break
        if attempt < retries:  # no pointless backoff after the final attempt
            sleep(backoff * (attempt + 1))
    raise FailedExternalRequest(f"download failed with status {last_status}: {url}")


def poll_async_export(
    start_url: str,
    getter: Callable[[str], tuple[int, dict]] = _http_json,
    max_polls: int = 3,
    sleep: Callable[[float], None] = time.sleep,
) -> str:
    """Poll an async export job until SUCCESS; returns the export URL.

    Mirrors app/core/onadata.py:93-144: a 202 response carries job_status
    (SUCCESS/FAILURE) or a job_uuid to re-poll with linear backoff.
    """
    url = start_url
    for attempt in range(max_polls + 1):
        status, payload = getter(url)
        job_status = payload.get("job_status")
        if payload.get("export_url") and job_status in (None, "SUCCESS"):
            return payload["export_url"]
        if job_status == "FAILURE":
            raise FailedExternalRequest(f"export job failed: {payload}")
        if job_uuid := payload.get("job_uuid"):
            url = f"{start_url}&job_uuid={job_uuid}"
        if attempt < max_polls:
            sleep(POLL_SLEEP_BASE * (attempt + 1))
    raise FailedExternalRequest(f"export did not complete after {max_polls} polls")
