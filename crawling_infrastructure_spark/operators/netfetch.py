"""Real-network HTTP fetcher behind the HermeticFetcher's ``fetch_group``
seam — the ``got``-equivalent the reference builds in
crawler/src/http_worker.ts:70-129 (setup: UA/Accept-Language headers,
cookie jar, request_timeout default 15 s via config.ts:193, ``retry: 1``,
proxy tunnel agent with a 25 s timeout floor at http_worker.ts:120-124),
with outcome mapping from crawler/src/handler.ts:15-32 + 161-176.

The Spark plan shape is fetcher-independent: ``NetworkFetcher`` rides the
same mapInPandas stage as the hermetic fetcher, through
operators/fetch.fetch_batch with ``corpus=None`` (real URLs resolve over the
wire, not against a fixture, so the resolve join is skipped). The
output frame is FETCH_RESULT_SCHEMA, so merge_results / reenqueue_failed /
metrics consume it unchanged — the whole state machine downstream of the
socket is shared with the hermetic engine and its equivalence tests.

Everything here is stdlib (urllib + http.cookiejar); the sandbox has no
network, so tests drive it against a loopback ThreadingHTTPServer
(tests/test_netfetch.py), never the internet.
"""

from __future__ import annotations

import hashlib
import time
import urllib.error
import urllib.request
from dataclasses import dataclass, field
from http.cookiejar import Cookie, CookieJar

import pandas as pd

from crawling_infrastructure_spark.functions.fingerprint import (
    ACCEPT_LOCALES,
    USER_AGENTS,
)
from crawling_infrastructure_spark.operators.fetch import (
    BLOCKED_HTTP_CODES,
    CrawlFunction,
)
from crawling_infrastructure_spark.schema import Status

#: got retries idempotent requests on these statuses (got@9 defaults, the
#: version the reference pins); blocked codes are NOT among them — a block
#: is handled by the state machine (rotate proxy, don't burn a retry).
RETRY_STATUS_CODES = (408, 413, 429, 500, 502, 503, 504)


@dataclass
class HttpFetchConfig:
    """The HttpWorkerConfig surface the reference's Got setup reads
    (crawler/src/config.ts:60-114, defaults at :193):

    - ``user_agent`` / ``random_user_agent``: fixed UA, or a deterministic
      per-url pick from the public desktop pool (the reference's
      ``user-agents`` package draw, helpers.ts:28-30)
    - ``random_accept_language``: per-url pick from the verbatim locale
      pool (helpers.ts:43-44)
    - ``headers``: user header overrides, merged LAST (http_worker.ts:97-99)
    - ``request_timeout``: ms, default 15000 (config.ts:193)
    - ``retry``: attempts after the first (got ``retry: 1``)
    - ``cookies``: [{name, value, domain}] seeded into the jar
      (http_worker.ts:107-116)
    - proxy rides the BATCH (one per row from assign_proxies), not the
      config; a proxied request raises the timeout floor to 25 s
      (http_worker.ts:120-124)
    """

    user_agent: str = USER_AGENTS[0]
    random_user_agent: bool = False
    random_accept_language: bool = False
    headers: dict = field(default_factory=dict)
    request_timeout: float = 15000.0
    retry: int = 1
    cookies: list | None = None
    proxy_timeout_floor_ms: float = 25000.0


def _seed_jar(cookies: list | None) -> CookieJar:
    jar = CookieJar()
    for c in cookies or []:
        jar.set_cookie(
            Cookie(
                version=0, name=c["name"], value=c["value"], port=None,
                port_specified=False, domain=c["domain"],
                domain_specified=True, domain_initial_dot=False, path="/",
                path_specified=True, secure=False, expires=None,
                discard=False, comment=None, comment_url=None, rest={},
            )
        )
    return jar


def _pick(pool: list, url: str, salt: str) -> str:
    h = int.from_bytes(hashlib.md5(f"{salt}|{url}".encode()).digest()[:4], "big")
    return pool[h % len(pool)]


@dataclass
class NetworkFetcher:
    """Drop-in for HermeticFetcher over real sockets: same ``fetch_group``
    signature, same output schema, same blocked/failed/completed semantics.

    One urllib opener per (proxy, Arrow batch): the reference holds one Got
    instance per worker process and re-creates it on proxy rotation
    (http_worker.ts:47-55); grouping the batch by its assigned proxy
    reproduces that — cookie state lives in the opener's jar for the
    batch lifetime, as the worker's jar lives for its crawl() loop.
    """

    config: HttpFetchConfig = field(default_factory=HttpFetchConfig)
    func: CrawlFunction = field(default_factory=CrawlFunction)
    carry_html: bool = False
    # store_browser_debug analogue: failed rows carry the response body (the
    # "document" at failure, handler.ts:178-180); no browser, no screenshot
    store_debug: bool = False

    def _opener(self, proxy: str | None) -> tuple:
        handlers = [urllib.request.HTTPCookieProcessor(_seed_jar(self.config.cookies))]
        timeout_s = self.config.request_timeout / 1000.0
        if proxy:
            # node-tunnel agent analogue (http_worker.ts:120-124) + the
            # reference's proxied-timeout floor
            handlers.append(
                urllib.request.ProxyHandler({"http": proxy, "https": proxy})
            )
            timeout_s = max(timeout_s, self.config.proxy_timeout_floor_ms / 1000.0)
        return urllib.request.build_opener(*handlers), timeout_s

    def _headers(self, row: dict) -> dict:
        ua = self.config.user_agent
        if self.config.random_user_agent:
            ua = _pick(USER_AGENTS, row["url"], "ua")
        # fingerprint columns attached by the plan (fetch_batch
        # fingerprints=True) take precedence — one fingerprint per row,
        # consistent with what metrics/debug record
        if row.get("ua"):
            ua = row["ua"]
        headers = {"User-Agent": ua}
        if self.config.random_accept_language:
            headers["Accept-Language"] = _pick(ACCEPT_LOCALES, row["url"], "al")
        if row.get("accept_language"):
            headers["Accept-Language"] = row["accept_language"]
        headers.update(self.config.headers)  # user overrides win (ts:97-99)
        return headers

    def _one(self, opener, timeout_s: float, url: str, headers: dict):
        """(status_code, body_bytes, error_str) for one attempt."""
        req = urllib.request.Request(url, headers=headers)
        try:
            with opener.open(req, timeout=timeout_s) as resp:
                return resp.status, resp.read(), ""
        except urllib.error.HTTPError as e:
            return e.code, b"", f"HTTPError: Response code {e.code}"
        except TimeoutError:
            return None, b"", "TimeoutError: Timeout awaiting 'request'"
        except urllib.error.URLError as e:
            if isinstance(getattr(e, "reason", None), TimeoutError):
                return None, b"", "TimeoutError: Timeout awaiting 'request'"
            return None, b"", f"RequestError: {e.reason}"
        except OSError as e:  # connection reset etc.
            return None, b"", f"RequestError: {e}"

    def fetch_group(self, pdf: pd.DataFrame) -> pd.DataFrame:
        rows = pdf.to_dict("records")
        out = {k: [] for k in (
            "url", "url_hash", "host", "status", "retries_delta", "error",
            "text", "lang", "warc_ts", "outlinks", "bytes_fetched",
            "elapsed_ms", "item_key", "html", "browser_debug",
        )}
        openers: dict = {}
        for row in rows:
            proxy = row.get("proxy")
            if proxy not in openers:
                openers[proxy] = self._opener(proxy)
            opener, timeout_s = openers[proxy]
            headers = self._headers(row)
            t0 = time.monotonic()
            code, body, err = self._one(opener, timeout_s, row["url"], headers)
            # got `retry: 1`: one extra attempt on retryable statuses and
            # network/timeout errors; never on blocked codes
            attempts = 1
            while (
                attempts <= self.config.retry
                and (code is None or code in RETRY_STATUS_CODES)
            ):
                code, body, err = self._one(opener, timeout_s, row["url"], headers)
                attempts += 1
            elapsed = (time.monotonic() - t0) * 1000.0
            status, delta = Status.COMPLETED, 1
            text = lang = links = html = None
            if code in BLOCKED_HTTP_CODES:
                # handler.ts:171-176 — blocked does not consume a retry
                status, delta, err = Status.FAILED, 0, f"blocked: status code {code}"
            elif code is None or code >= 400:
                status = Status.FAILED
            else:
                decoded = body.decode("utf-8", errors="replace")
                text = self.func.extract(decoded)
                links = self.func.outlinks(decoded)
                if self.carry_html:
                    html = body
            out["url"].append(row["url"])
            out["url_hash"].append(row["url_hash"])
            out["host"].append(row["host"])
            out["status"].append(status)
            out["retries_delta"].append(delta)
            out["error"].append(err)
            out["text"].append(text)
            out["lang"].append(lang)
            out["warc_ts"].append(row.get("warc_ts"))
            out["outlinks"].append(links)
            out["bytes_fetched"].append(len(body))
            out["elapsed_ms"].append(elapsed)
            out["item_key"].append(self.func.get_key(row["url"]))
            out["html"].append(html)
            debug = None
            if self.store_debug and status == Status.FAILED:
                debug = {
                    "screen_b64": None,  # http worker: no browser to shoot
                    "document": body.decode("utf-8", errors="replace") or None,
                }
            out["browser_debug"].append(debug)
        return pd.DataFrame(out)
