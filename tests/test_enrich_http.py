"""HTTP-transport semantics against a local fake chat-completions server.

Pins the reference's error asymmetry (SURVEY.md §3.2):

- transport-level failures (HTTP >= 400, connection refused, AND a 200
  body that is not valid JSON) retry up to cfg.retries with backoff:
  the reference's response.json() raises requests.JSONDecodeError, a
  RequestException subclass, caught by the blanket retry except
  (test.py:69,74);
- a 200 that parses but lacks choices[0].message.content raises
  KeyError/IndexError OUT of make_openai_call — no remaining retries,
  sentinel via process_row's blanket except (test.py:78,104-107).

The server is stdlib ThreadingHTTPServer on an ephemeral port — no
network, no external deps, runs in CI.
"""

from __future__ import annotations

import json
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

import pandas as pd
import pytest

from batch_processing_new_spark.operators.enrich import (
    SENTINEL,
    EnrichConfig,
    _enrich_batches,
)


class _FakeLLMHandler(BaseHTTPRequestHandler):
    """Scripted per-path behavior; counts requests per path."""

    counts: dict[str, int] = {}
    lock = threading.Lock()

    def log_message(self, *args):  # silence request logging
        pass

    def do_POST(self):
        with self.lock:
            n = self.counts.get(self.path, 0) + 1
            self.counts[self.path] = n
        body = self.rfile.read(int(self.headers.get("Content-Length", 0)))
        prompt = json.loads(body)["messages"][0]["content"]

        def ok(payload: bytes, status: int = 200):
            self.send_response(status)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(payload)))
            self.end_headers()
            self.wfile.write(payload)

        if self.path == "/ok":
            ok(
                json.dumps(
                    {
                        "choices": [
                            {"message": {"content": f"echo::{prompt[-10:]}  "}}
                        ]
                    }
                ).encode()
            )
        elif self.path == "/malformed-json":
            ok(b"this is not json {")
        elif self.path == "/missing-keys":
            ok(json.dumps({"object": "chat.completion", "choices": []}).encode())
        elif self.path == "/flaky":
            # fail with 500 twice, then succeed
            if n <= 2:
                ok(b'{"error": "internal"}', status=500)
            else:
                ok(
                    json.dumps(
                        {"choices": [{"message": {"content": "recovered"}}]}
                    ).encode()
                )
        elif self.path == "/always-500":
            ok(b'{"error": "internal"}', status=500)
        else:
            ok(b"{}", status=404)


@pytest.fixture(scope="module")
def fake_server():
    srv = ThreadingHTTPServer(("127.0.0.1", 0), _FakeLLMHandler)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    yield f"http://127.0.0.1:{srv.server_address[1]}"
    srv.shutdown()


def _cfg(url: str, path: str, **kw) -> EnrichConfig:
    return EnrichConfig(
        transport="http",
        api_url=url + path,
        retries=kw.pop("retries", 7),
        base_delay=kw.pop("base_delay", 0.01),
        max_delay=0.02,
        timeout=5.0,
        **kw,
    )


def _enrich_series(texts: list[str], cfg: EnrichConfig) -> list[tuple]:
    """The enrich kernel over one batch: a (response, error, attempts,
    latency_ms) tuple per text."""
    [out] = _enrich_batches(iter([pd.Series(texts)]), cfg, lambda n: None)
    return list(out.itertuples(index=False, name=None))


def _run_one(cfg: EnrichConfig, text: str = "hello"):
    [(resp, err, attempts, _ms)] = _enrich_series([text], cfg)
    return resp, err, attempts


def test_http_success_strips_and_returns_content(fake_server):
    resp, err, attempts = _run_one(_cfg(fake_server, "/ok"))
    assert resp.startswith("echo::") and not resp.endswith(" ")
    assert err is None
    assert attempts == 1


def test_invalid_json_200_is_retried(fake_server):
    """A 200 body that is NOT valid JSON retries like any transport
    failure: the reference's response.json() raises a RequestException
    subclass, so the blanket except retries it (test.py:69,74) — a
    proxy-garbled body is transient; only the key shape is terminal."""
    _FakeLLMHandler.counts.pop("/malformed-json", None)
    resp, err, attempts = _run_one(_cfg(fake_server, "/malformed-json", retries=3))
    assert resp == SENTINEL
    assert attempts == 3
    assert "JSONDecodeError" in err
    assert _FakeLLMHandler.counts["/malformed-json"] == 3


def test_missing_keys_200_skips_remaining_retries(fake_server):
    """KeyError/IndexError on the choices path escapes the reference's
    retry loop entirely (test.py:78) — sentinel after ONE attempt."""
    _FakeLLMHandler.counts.pop("/missing-keys", None)
    resp, err, attempts = _run_one(_cfg(fake_server, "/missing-keys"))
    assert resp == SENTINEL
    assert attempts == 1
    assert "MalformedResponseError" in err
    assert _FakeLLMHandler.counts["/missing-keys"] == 1


def test_http_500_retries_then_recovers(fake_server):
    _FakeLLMHandler.counts.pop("/flaky", None)
    resp, err, attempts = _run_one(_cfg(fake_server, "/flaky"))
    assert resp == "recovered"
    assert err is None
    assert attempts == 3
    assert _FakeLLMHandler.counts["/flaky"] == 3


def test_http_persistent_500_exhausts_retries_to_sentinel(fake_server):
    _FakeLLMHandler.counts.pop("/always-500", None)
    resp, err, attempts = _run_one(_cfg(fake_server, "/always-500", retries=3))
    assert resp == SENTINEL
    assert attempts == 3
    assert "500" in err
    assert _FakeLLMHandler.counts["/always-500"] == 3


def test_http_concurrency_not_throttled_by_default_executor(fake_server):
    """96 in-flight calls with a dedicated pool finish in ~1 RTT; the
    old asyncio.to_thread path capped real parallelism at ~32 threads.
    Uses wall-clock headroom (not exact timing) to stay robust in CI."""
    import time

    cfg = _cfg(fake_server, "/ok", concurrency=96)
    texts = [f"t{i}" for i in range(96)]
    t0 = time.monotonic()
    results = _enrich_series(texts, cfg)
    dt = time.monotonic() - t0
    assert all(r[0].startswith("echo::") for r in results)
    assert dt < 5.0
