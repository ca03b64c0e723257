"""The fetch-map — SURVEY.md §2.8, an exact port of the reference's
``CrawlHandler.run`` state machine (crawler/src/handler.ts:51-206) as a
vectorized ``groupBy(host).applyInPandas`` operator.

Semantics reproduced per item (with reference lines):
- retries += 1 per attempt                       handler.ts:108
- success  -> status=completed, error=''         handler.ts:117-124
- failure  -> status=failed, error=message       handler.ts:161
- BLOCKED (HTTP 401/403/407/429/451 or proxy needles, handler.ts:15-32) ->
  status=failed BUT retries -= 1 — a blocked attempt does NOT consume a
  retry (handler.ts:171-176). We encode it as retries_delta=0.

Fetching is hermetic (FIXTURES.md): URLs resolve against the synthetic pages
corpus via a broadcast inner join (claimed side is epoch-budget-bounded, so
the corpus is scanned map-side only — zero shuffle), and failures are
injected deterministically from (url, epoch). A real-network deployment
swaps ``HermeticFetcher`` for one whose ``fetch_group`` does HTTP I/O; the
plan shape is unchanged.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from crawling_infrastructure_spark.functions.html import clean_html, extract_links
from crawling_infrastructure_spark.schema import FETCH_RESULT_SCHEMA, Status
from crawling_infrastructure_spark.synth import (
    OUTCOME_BLOCKED,
    OUTCOME_HTTP500,
    OUTCOME_OK,
    OUTCOME_TIMEOUT,
)

# handler.ts:26-32
BLOCKED_HTTP_CODES = (401, 403, 407, 429, 451)
# bytes/ms of simulated transfer — keeps elapsed_ms deterministic (no wall
# clock; BASELINE.md's rps numbers come from these, not real sleeps)
SIM_BYTES_PER_MS = 2048.0


@dataclass
class CrawlFunction:
    """§2.10 user-UDF surface — the Spark stand-in for the reference's
    posted ``function_code`` class (crawler/src/worker.ts:180-311, evaluated
    at crawler/src/handler.ts:62): users override crawl-time behavior by
    supplying plain Python callables that ride the fetch UDF's closure
    (Arrow-batched; called once per item inside the vectorized batch).

    hooks (reference analogue):
      extract(html) -> text            worker.clean_html / http crawl body
      outlinks(html) -> list[str]      worker.enqueue (the discovered items)
      get_key(url) -> str              worker.getKey item id (F10 md5 id)

    The re-enqueue predicate hook (queue.service.ts check function) is the
    separate CrawlJob.reenqueue(predicate) surface — it runs over stored
    results, not in the fetch path.
    """

    extract: Callable[[str], str] = field(default=clean_html)
    outlinks: Callable[[str], list] = field(default=extract_links)
    get_key: Callable[[str], str] = field(
        default=lambda url: __import__("hashlib").md5(url.encode()).hexdigest()
    )


@dataclass
class HermeticFetcher:
    """Network-free fetcher resolving against the synthetic corpus.

    ``outcome_fn(url, epoch) -> str`` injects deterministic failures.
    ``func`` carries the user hook surface (CrawlFunction).
    """

    epoch: int
    outcome_fn: object = None  # callable (url, epoch) -> outcome str
    func: CrawlFunction = field(default_factory=CrawlFunction)
    # carry the raw html of completed rows through the result frame (one
    # corpus scan per epoch; see FETCH_RESULT_SCHEMA note and
    # plans/epoch._GIANT_EPOCH_ROWS)
    carry_html: bool = False
    # store_browser_debug (config.ts:233-234, default false): failed rows
    # carry worker.getDebugInfo() — {screen_b64, document}
    # (handler.ts:178-180). The screenshot is a browser-codec boundary the
    # sandbox can't cross (like operators/multimodal's decoders), so
    # screen_b64 is a DETERMINISTIC STAND-IN (base64 of a labeled marker);
    # document is the real page DOM at failure when the fetch resolved one.
    store_debug: bool = False

    def outcome(self, url: str) -> str:
        if self.outcome_fn is None:
            return OUTCOME_OK
        return self.outcome_fn(url, self.epoch)

    def fetch_group(self, pdf: pd.DataFrame) -> pd.DataFrame:
        """One Arrow batch: claimed rows pre-joined with corpus html.
        Columns in: url, url_hash, host, retries, warc_ts, html, lang.

        Column-wise construction (one local list per output column, single
        zip loop over plain python lists): at 0.04 ms/page of actual regex
        work, itertuples + dict-indexed appends were a measurable fraction
        of the stage. The html bytes are consumed here (extract/outlinks)
        and NOT re-emitted — see FETCH_RESULT_SCHEMA."""
        urls = pdf["url"].tolist()
        htmls = pdf["html"].tolist()
        langs = pdf["lang"].tolist()
        n = len(urls)
        status_o = [Status.COMPLETED] * n
        delta_o = [1] * n
        error_o = [""] * n
        text_o: list = [None] * n
        lang_o: list = [None] * n
        links_o: list = [None] * n
        nbytes_o = [0] * n
        html_o: list = [None] * n
        debug_o: list = [None] * n
        extract, outlinks = self.func.extract, self.func.outlinks
        get_key, carry = self.func.get_key, self.carry_html
        for i, (url, html) in enumerate(zip(urls, htmls)):
            outcome = self.outcome(url)
            if self.store_debug and (html is None or outcome != OUTCOME_OK):
                import base64

                debug_o[i] = {
                    "screen_b64": base64.b64encode(
                        f"screenshot-stub:{url}".encode()
                    ).decode(),
                    "document": None
                    if html is None
                    else bytes(html).decode("utf-8", errors="replace"),
                }
            if html is None:
                # URL not in corpus == connection error; consumes a retry
                status_o[i], error_o[i] = Status.FAILED, "RequestError: getaddrinfo ENOTFOUND"
            elif outcome == OUTCOME_BLOCKED:
                # blocked != failed attempt: retries incremented then
                # decremented (handler.ts:108 + 171-176) -> net 0
                status_o[i], delta_o[i], error_o[i] = Status.FAILED, 0, "blocked: status code 403"
            elif outcome == OUTCOME_TIMEOUT:
                status_o[i], error_o[i] = Status.FAILED, "TimeoutError: Timeout awaiting 'request'"
            elif outcome == OUTCOME_HTTP500:
                status_o[i], error_o[i] = Status.FAILED, "HTTPError: Response code 500"
            else:
                h = bytes(html)
                decoded = h.decode("utf-8", errors="replace")
                text_o[i] = extract(decoded)
                links_o[i] = outlinks(decoded)
                lang_o[i] = langs[i]
                nbytes_o[i] = len(h)
                if carry:
                    html_o[i] = h
        return pd.DataFrame(
            {
                "url": urls,
                "url_hash": pdf["url_hash"].to_numpy(),
                "host": pdf["host"].tolist(),
                "status": status_o,
                "retries_delta": delta_o,
                "error": error_o,
                "text": text_o,
                "lang": lang_o,
                "warc_ts": pdf["warc_ts"].tolist(),
                "outlinks": links_o,
                "bytes_fetched": nbytes_o,
                "elapsed_ms": [b / SIM_BYTES_PER_MS + 1.0 for b in nbytes_o],
                # F10 md5 item id — the key the reference stores results
                # under (worker.getKey); rides into the pages table
                "item_key": [get_key(u) for u in urls],
                "html": html_o,
                "browser_debug": debug_o,
            }
        )


def resolve_against_corpus(
    claimed: DataFrame, corpus: DataFrame, shuffle: bool = False
) -> DataFrame:
    """Attach corpus html to the claimed batch: inner join on the claimed
    side, plus corpus-misses via an anti-join.

    Join strategy: left to AQE for politeness-bounded claims (default) — a
    small claimed side broadcasts, the corpus is scanned map-side, never
    shuffled, and the fetch rides the scan. ``shuffle=True`` (claim-all
    batches) hints SHUFFLE_HASH on the claimed side instead: the broadcast
    plan hands the downstream Python fetch the corpus's BYTE-balanced file
    splits, which under Zipf page-size skew are heavily ROW-skewed — and
    rows, not bytes, are what the per-page Python work scales with
    (measured: 163s broadcast-inherited vs 36s shuffled for the same
    100k-row fetch). The url-hash exchange both balances rows and scales
    its own cost with the cluster."""
    c = claimed.select("url", "url_hash", "host", "retries")
    if shuffle:
        c = c.hint("shuffle_hash")
    found = corpus.select("url", "warc_ts", "html", "lang").join(c, "url", "inner")
    missing = c.join(
        found.select("url"), "url", "left_anti"
    ).select(
        "url",
        F.lit(None).cast("timestamp").alias("warc_ts"),
        F.lit(None).cast("binary").alias("html"),
        F.lit(None).cast("string").alias("lang"),
        "url_hash",
        "host",
        "retries",
    )
    return found.unionByName(missing)


def fetch_batch(
    claimed: DataFrame,
    corpus: DataFrame,
    fetcher: HermeticFetcher,
    by_host: bool = False,
    host_salt: int = 32,
    shuffle: bool = False,
    fingerprints: bool = False,
    proxies: DataFrame | None = None,
) -> DataFrame:
    """claimed frontier batch -> FETCH_RESULT_SCHEMA rows.

    Default path: ``mapInPandas`` — the per-item state machine is row-
    independent (politeness already enforced at claim time by the token
    bucket), so no shuffle is needed at all and Zipf-head hosts can't
    straggle a task. This is the 100 TB-correct plan: fetch parallelism ==
    scan parallelism.

    ``shuffle=True``: claim-all batches — see resolve_against_corpus: the
    resolve join is hinted to a url-hash shuffle so the Python stage gets
    ROW-balanced partitions instead of the corpus scan's byte-balanced,
    row-skewed splits.

    ``by_host=True``: groupBy(host, salt) + applyInPandas for fetchers that
    hold per-host state (connection pools, per-host rate limiters — what the
    reference's one-worker-per-batch layout gave it). The salt splits hot
    hosts (SURVEY.md O8): without it the Zipf head becomes one giant group
    and a single Python worker bottlenecks BOTH small and large clusters —
    measured: fetch wall was dominated by the top host until salted.
    """
    resolved = resolve_against_corpus(claimed, corpus, shuffle=shuffle)
    # Opt-in per-request context (the reference sets these per worker:
    # UA/Accept-Language at helpers.ts:28-52, proxy via the get_proxy hook
    # proxy.ts:124-150). Attached as deterministic JVM columns BEFORE the
    # Python stage so a non-hermetic fetcher reads them off the batch pdf
    # (pdf["ua"], pdf["proxy"], ...); replays agree because every pick is
    # hash-keyed, never random. The hermetic fetcher ignores them.
    if fingerprints:
        from crawling_infrastructure_spark.functions.fingerprint import (
            accept_language_header,
            user_agent,
        )

        resolved = resolved.withColumn("ua", user_agent(F.col("url"))).withColumn(
            "accept_language", accept_language_header(F.col("url"))
        )
    if proxies is not None:
        from crawling_infrastructure_spark.operators.proxy import assign_proxies

        resolved = assign_proxies(resolved, proxies, key="url_hash")
    if by_host:
        salted = resolved.withColumn(
            "_salt", F.pmod(F.col("url_hash"), F.lit(host_salt)).cast("int")
        )
        return salted.groupBy("host", "_salt").applyInPandas(
            lambda pdf: fetcher.fetch_group(pdf.drop(columns=["_salt"])),
            FETCH_RESULT_SCHEMA,
        )

    def run(batches):
        for pdf in batches:
            if len(pdf):
                yield fetcher.fetch_group(pdf)

    return resolved.mapInPandas(run, FETCH_RESULT_SCHEMA)
