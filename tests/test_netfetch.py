"""NetworkFetcher against a loopback ThreadingHTTPServer — the reference's
HTTP worker config surface (crawler/src/http_worker.ts:70-129) exercised
through the real Spark mapInPandas plumbing (``fetch_batch`` with no
corpus), never the internet:
timeout -> retry -> fail, 5xx -> retry -> success, blocked codes consume no
retry AND no retry-request, headers/cookies reach the wire."""

import threading
import time
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

import pytest
from pyspark.sql import functions as F

from crawling_infrastructure_spark.operators.fetch import fetch_batch
from crawling_infrastructure_spark.operators.netfetch import (
    HttpFetchConfig,
    NetworkFetcher,
)
from crawling_infrastructure_spark.schema import Status

HITS: dict[str, int] = {}
_LOCK = threading.Lock()


class _Handler(BaseHTTPRequestHandler):
    def log_message(self, *a):  # silence
        pass

    def do_GET(self):
        with _LOCK:
            HITS[self.path] = HITS.get(self.path, 0) + 1
            nth = HITS[self.path]
        if self.path == "/blocked":
            self.send_response(403)
            self.end_headers()
            return
        if self.path == "/flaky" and nth == 1:
            self.send_response(500)
            self.end_headers()
            return
        if self.path == "/gone":
            self.send_response(404)
            self.end_headers()
            return
        if self.path == "/slow":
            time.sleep(1.2)
        body = (
            '<html><body><a href="http://127.0.0.1/x">x</a>'
            f"<p>ua={self.headers.get('User-Agent','')}</p>"
            f"<p>cookie={self.headers.get('Cookie','')}</p>"
            f"<p>lang={self.headers.get('Accept-Language','')}</p>"
            "</body></html>"
        ).encode()
        try:
            self.send_response(200)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)
        except BrokenPipeError:
            pass  # client timed out mid-write (/slow) — expected


@pytest.fixture(scope="module")
def server():
    HITS.clear()
    srv = ThreadingHTTPServer(("127.0.0.1", 0), _Handler)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    yield f"http://127.0.0.1:{srv.server_address[1]}"
    srv.shutdown()


def _claimed(spark, base, paths):
    rows = [(f"{base}{p}", i, "127.0.0.1", 0) for i, p in enumerate(paths)]
    return spark.createDataFrame(
        rows, "url string, url_hash long, host string, retries int"
    )


def test_state_machine_over_real_sockets(spark, server):
    cfg = HttpFetchConfig(request_timeout=400.0, retry=1)
    fetcher = NetworkFetcher(config=cfg)
    claimed = _claimed(spark, server, ["/ok", "/blocked", "/flaky", "/slow", "/gone"])
    out = {
        r.url.rsplit("/", 1)[-1]: r
        for r in fetch_batch(claimed, None, fetcher).collect()
    }
    # success: extracted text + outlinks, completed consumes a retry slot
    assert out["ok"].status == Status.COMPLETED and out["ok"].retries_delta == 1
    assert out["ok"].outlinks == ["http://127.0.0.1/x"]
    assert "ua=" in out["ok"].text and out["ok"].bytes_fetched > 0
    # blocked (403, handler.ts:15-32): failed but retries_delta == 0, and
    # got must NOT have retried it (not a retryable status)
    assert out["blocked"].status == Status.FAILED
    assert out["blocked"].retries_delta == 0
    assert out["blocked"].error == "blocked: status code 403"
    assert HITS["/blocked"] == 1
    # 500 then 200: got `retry: 1` turns it into a success, two wire hits
    assert out["flaky"].status == Status.COMPLETED
    assert HITS["/flaky"] == 2
    # timeout: one retry then failure with the got-parity message
    assert out["slow"].status == Status.FAILED and out["slow"].retries_delta == 1
    assert out["slow"].error == "TimeoutError: Timeout awaiting 'request'"
    assert HITS["/slow"] == 2
    # plain 404: failed, no retry (404 is not in got's retryable set)
    assert out["gone"].status == Status.FAILED
    assert out["gone"].error == "HTTPError: Response code 404"
    assert HITS["/gone"] == 1


def test_no_corpus_skips_the_resolve_join(spark):
    # real URLs resolve over the wire: the plan is the claim scan straight
    # into the Python stage, no join against a corpus
    claimed = _claimed(spark, "http://127.0.0.1:9", ["/a"])
    plan = fetch_batch(claimed, None, NetworkFetcher())._jdf.queryExecution()
    text = plan.executedPlan().toString()
    assert "MapInPandas" in text and "Join" not in text


def test_headers_and_cookies_reach_the_wire(spark, server):
    cfg = HttpFetchConfig(
        user_agent="parity-test-UA/1.0",
        headers={"Accept-Language": "xx-TEST"},
        cookies=[{"name": "sid", "value": "42", "domain": "127.0.0.1"}],
        request_timeout=2000.0,
    )
    fetcher = NetworkFetcher(config=cfg)
    claimed = _claimed(spark, server, ["/hdr"])
    row = fetch_batch(claimed, None, fetcher).collect()[0]
    assert "ua=parity-test-UA/1.0" in row.text
    assert "lang=xx-TEST" in row.text  # user headers merged last (ts:97-99)
    assert "cookie=sid=42" in row.text  # jar seeded from config.cookies


def test_fingerprint_columns_override_config(spark, server):
    # the plan's per-row fingerprint columns (F9) take precedence over the
    # static config UA — one fingerprint per row, like the reference's
    # per-worker setup()
    fetcher = NetworkFetcher(config=HttpFetchConfig(request_timeout=2000.0))
    claimed = _claimed(spark, server, ["/fp"])
    row = fetch_batch(claimed, None, fetcher, fingerprints=True).collect()[0]
    assert "ua=Mozilla/5.0" in row.text
    assert "lang=" in row.text and "q=0.7" in row.text


def test_proxied_rows_raise_timeout_floor():
    # http_worker.ts:120-124: proxy -> timeout = max(timeout, 25s)
    fetcher = NetworkFetcher(config=HttpFetchConfig(request_timeout=400.0))
    _, t_direct = fetcher._opener(None)
    _, t_proxied = fetcher._opener("http://10.0.0.1:8080")
    assert t_direct == pytest.approx(0.4)
    assert t_proxied == pytest.approx(25.0)
