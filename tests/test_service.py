"""HTTP ingest service parity (reference op 1): 400 on missing key,
500 on unreadable source, full pipeline on a good job spec, and
concurrent first requests shipping the package once."""

from __future__ import annotations

import csv
import json
import os
import sys
import tempfile
import threading
import urllib.error
import urllib.request
import zipfile

import pytest


def _post(port: int, body: dict) -> tuple[int, dict]:
    req = urllib.request.Request(
        f"http://127.0.0.1:{port}/process_csv",
        data=json.dumps(body).encode(),
        headers={"Content-Type": "application/json"},
    )
    try:
        with urllib.request.urlopen(req, timeout=120) as r:
            return r.status, json.loads(r.read())
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read())


GOOD_BODY = {
    "s3_file_url": "",  # filled per test
    "column_index": 1,
    "max_rows": 8,
    "system_prompt": "Classify",
    "model": "mock-model",
    "temperature": 0.0,
    "tokens": 16,
    "file_name": "svc_out",
    "request_id": "req-1",
    "version_id": "v1",
}


@pytest.fixture(scope="module")
def server(spark, tmp_path_factory):
    from batch_processing_new_spark.service import EnrichmentServer

    out = tmp_path_factory.mktemp("svc_out")
    srv = EnrichmentServer(spark, str(out))
    srv.start()
    yield srv
    srv.stop()


@pytest.fixture()
def input_csv(tmp_path):
    path = tmp_path / "in.csv"
    with open(path, "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(["id", "text", "amount"])
        for i in range(10):
            w.writerow([i, f"row {i} text", i * 1.5])
    return str(path)


def test_missing_key_is_400(server):
    body = {k: v for k, v in GOOD_BODY.items() if k != "max_rows"}
    code, payload = _post(server.port, body)
    assert code == 400
    assert "max_rows" in payload["error"]


def test_unreadable_source_is_500(server):
    body = dict(GOOD_BODY, s3_file_url="/nonexistent/nope.csv")
    code, payload = _post(server.port, body)
    assert code == 500


def test_good_job_runs_pipeline(server, input_csv):
    code, payload = _post(server.port, dict(GOOD_BODY, s3_file_url=input_csv))
    assert code == 200, payload
    assert payload["message"] == "CSV processing completed"
    assert payload["row_count"] == 10
    assert payload["error_count"] == 0
    assert payload["request_id"] == "req-1"

    with open(payload["file_url"]) as f:
        rows = list(csv.reader(f))
    # schema = input + Response; enriched head (8) + passthrough tail (2)
    assert rows[0] == ["id", "text", "amount", "Response"]
    assert len(rows) == 11
    assert all(r[3].startswith("resp::") for r in rows[1:9])
    assert [r[3] for r in rows[9:]] == ["", ""]
    # order preserved end to end
    assert [r[0] for r in rows[1:]] == [str(i) for i in range(10)]


def test_hadoop_single_csv_writer_local_fs(spark, tmp_path):
    """write_single_csv_hadoop (the s3a sink path) produces ONE object
    at the final key on any Hadoop FS — exercised via file:/ here."""
    from batch_processing_new_spark.sinks.writers import (
        write_single_csv_hadoop,
    )

    df = spark.createDataFrame([(1, "x"), (2, "y")], "a int, b string")
    dest = f"file:{tmp_path}/out_final.csv"
    got = write_single_csv_hadoop(spark, df.orderBy("a"), dest)
    assert got == dest
    local = str(tmp_path / "out_final.csv")
    import os

    assert os.path.isfile(local)  # a FILE, not a part directory
    with open(local) as f:
        lines = f.read().strip().split("\n")
    assert lines[0] == "a,b" and len(lines) == 3
    assert not os.path.exists(local + "._staging")


def test_bad_value_returns_400(server):
    import json
    import urllib.request

    body = {
        "s3_file_url": "x.csv", "column_index": "two", "max_rows": 5,
        "system_prompt": "p", "model": "m", "temperature": 0.1,
        "tokens": 10, "file_name": "f", "request_id": "r",
        "version_id": "v",
    }
    req = urllib.request.Request(
        f"http://127.0.0.1:{server.server_port}/process_csv",
        data=json.dumps(body).encode(),
        headers={"Content-Type": "application/json"},
    )
    try:
        urllib.request.urlopen(req)
        raise AssertionError("expected HTTP 400")
    except urllib.error.HTTPError as e:
        assert e.code == 400
        assert "Bad value" in e.read().decode()


def test_concurrent_first_ship_adds_package_once(spark, tmp_path, monkeypatch):
    """Concurrent first requests on a context (service handler threads)
    write the package zip and call addPyFile exactly once."""
    from batch_processing_new_spark import shipping

    sc = spark.sparkContext
    calls: list[str] = []
    monkeypatch.setattr(shipping, "_SHIPPED_CONTEXTS", set())
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))  # a fresh zip
    monkeypatch.setattr(sc, "addPyFile", calls.append)
    start = threading.Barrier(8)
    errors: list[BaseException] = []

    def first_request() -> None:
        try:
            start.wait(timeout=30)
            shipping.ensure_package_on_executors(spark)
        except BaseException as exc:  # noqa: BLE001 — reported below
            errors.append(exc)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=first_request) for _ in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    assert len(calls) == 1
    assert os.listdir(tmp_path) == [os.path.basename(calls[0])]
    with zipfile.ZipFile(calls[0]) as zf:
        assert "batch_processing_new_spark/shipping.py" in zf.namelist()
