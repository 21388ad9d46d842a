"""Egress layout/protocol tests with injected fake clients (network
dependencies absent by design)."""

from __future__ import annotations

import importlib.util

import pytest

from duva_spark.egress import (
    DOWNLOAD_EXPIRE_SECONDS,
    S3ArtifactClient,
    artifact_key,
    presigned_url_expiry,
)


def test_artifact_key_layout():
    assert artifact_key(7, "bob", 42, "form.hyper") == "7/bob/42_form.hyper"


def test_presigned_expiry_contract():
    assert presigned_url_expiry(now=1000.0) == 1000.0 + DOWNLOAD_EXPIRE_SECONDS


class FakeS3:
    def __init__(self):
        self.ops = []

    def upload_file(self, path, bucket, key):
        self.ops.append(("up", bucket, key))

    def download_file(self, bucket, key, path):
        self.ops.append(("down", bucket, key))

    def delete_object(self, Bucket, Key):
        self.ops.append(("del", Bucket, Key))

    def generate_presigned_url(self, op, Params, ExpiresIn):
        return f"https://s3/{Params['Bucket']}/{Params['Key']}?exp={ExpiresIn}"


def test_s3_client_roundtrip(tmp_path):
    fake = FakeS3()
    c = S3ArtifactClient("bkt", client=fake)
    key = artifact_key(1, "bob", 2, "x.parquet")
    c.upload("local", key)
    c.download(key, "local2")
    c.delete(key)
    assert [o[0] for o in fake.ops] == ["up", "down", "del"]
    assert all(o[1] == "bkt" and o[2] == key for o in fake.ops)
    url = c.presigned_download_url(key)
    assert url.endswith("?exp=3600")  # 3600 s validity (config.py:27)


def test_default_client_construction():
    try:
        import boto3  # noqa: F401

        assert S3ArtifactClient("bkt").bucket == "bkt"
    except ImportError:
        with pytest.raises(ImportError, match="boto3"):
            S3ArtifactClient("bkt")


def test_missing_tableau_raises_cleanly():
    from duva_spark.egress import publish_to_tableau

    with pytest.raises(ImportError, match="tableauserverclient"):
        publish_to_tableau("x.hyper", "https://t", "site", "tok", "val", "proj")


@pytest.mark.skipif(
    importlib.util.find_spec("tableauhyperapi") is not None,
    reason="tableauhyperapi is installed",
)
def test_missing_hyperapi_raises_cleanly(tmp_path):
    from duva_spark.egress import export_hyper

    with pytest.raises(ImportError, match="tableauhyperapi not installed"):
        export_hyper(None, str(tmp_path / "x.hyper"))
    assert not (tmp_path / "x.hyper").exists()
