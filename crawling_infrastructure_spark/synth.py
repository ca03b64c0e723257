"""Deterministic synthetic web corpus (FIXTURES.md §1-5).

Replaces the reference's live-site test dependencies (ipinfo.io, httpbin,
google — /root/reference/crawler/test/integration_tests.ts) with a hermetic,
seeded corpus:

- ``pages``   — Common-Crawl-style table, exact BASELINE.json input_hint shape
                (url, warc_ts, html binary, text, lang). ``text`` is computed
                at generation time with the ported ``clean_html`` and is the
                byte-identity oracle.
- hosts follow Zipf(s=1.2) — required so the hot-host salting path actually
  engages (SURVEY.md §7.3 risk 4).
- every page embeds 0-20 outlinks (15% duplicate, 10% off-corpus, 5%
  relative) driving frontier growth / dedup / domain-count tests.
- ``fail_map`` — deterministic fetch outcome per url (85 ok / 5 blocked /
  5 timeout / 5 http-500), mirroring the block-detection codes the reference
  special-cases (crawler/src/handler.ts:26-32).

Everything derives from the row id through splitmix64 — generation is
embarrassingly parallel (mapInPandas over spark.range), so the same code
generates 1e3 rows for pytest and 1e9+ rows on a cluster.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator
from datetime import datetime, timedelta, timezone

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from crawling_infrastructure_spark.functions.html import clean_html
from crawling_infrastructure_spark.schema import PAGES_SCHEMA

SEED = 42
ZIPF_S = 1.2
BASE_TS = datetime(2026, 1, 1, tzinfo=timezone.utc)

# fetch outcomes — keyed on md5(url) so both the Spark fetch UDF and the
# pure-Python ordering oracle compute the identical outcome with no RNG state
OUTCOME_OK = "ok"
OUTCOME_BLOCKED = "blocked"   # HTTP 403/429 — handler.ts:26-32 block codes
OUTCOME_TIMEOUT = "timeout"   # got RequestError analogue
OUTCOME_HTTP500 = "http500"


def _splitmix64(x: np.ndarray) -> np.ndarray:
    """Deterministic 64-bit mix (public-domain splitmix64 constants)."""
    z = (x + np.uint64(0x9E3779B97F4A7C15)) & np.uint64(0xFFFFFFFFFFFFFFFF)
    z = ((z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)) & np.uint64(0xFFFFFFFFFFFFFFFF)
    z = ((z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)) & np.uint64(0xFFFFFFFFFFFFFFFF)
    return z ^ (z >> np.uint64(31))


def _zipf_cdf(n_hosts: int) -> np.ndarray:
    w = 1.0 / np.power(np.arange(1, n_hosts + 1, dtype=np.float64), ZIPF_S)
    return np.cumsum(w / w.sum())


def host_name(k: int) -> str:
    return f"host{k:04d}.example"


def url_of(i: int, n_hosts: int, cdf: np.ndarray | None = None) -> str:
    """URL of corpus row i. Rows [0, n_hosts) are host roots (the seed set);
    later rows get Zipf-assigned hosts and unique paths."""
    if i < n_hosts:
        return f"https://{host_name(i)}/"
    if cdf is None:
        cdf = _zipf_cdf(n_hosts)
    u = (_splitmix64(np.array([i + SEED], dtype=np.uint64))[0] >> np.uint64(11)) / float(1 << 53)
    k = int(np.searchsorted(cdf, u))
    return f"https://{host_name(k)}/p/{i}"


def fetch_outcome(url: str, epoch: int = 0) -> str:
    """Deterministic injected outcome — FIXTURES.md §5. Mixing in the epoch
    lets blocked URLs (whose retries are NOT consumed, handler.ts:171-176)
    eventually succeed on a later attempt, as proxy rotation does for the
    reference — otherwise a deterministic per-url outcome would loop forever."""
    h = hashlib.md5(f"{url}|{epoch}".encode()).digest()[-1] % 100
    if h < 85:
        return OUTCOME_OK
    if h < 90:
        return OUTCOME_BLOCKED
    if h < 95:
        return OUTCOME_TIMEOUT
    return OUTCOME_HTTP500


def outlinks_of(i: int, n_pages: int, n_hosts: int, cdf: np.ndarray | None = None) -> list[str]:
    """Deterministic outlink hrefs embedded in page i's body."""
    if cdf is None:
        cdf = _zipf_cdf(n_hosts)
    base = _splitmix64(np.array([i * 7919 + 13 + SEED], dtype=np.uint64))[0]
    k = int(base % np.uint64(21))  # 0..20 links
    if k == 0:
        return []
    rs = _splitmix64(np.arange(1, k + 1, dtype=np.uint64) * np.uint64(0x5851F42D4C957F2D) + np.uint64(base))
    links: list[str] = []
    for j in range(k):
        r = int(rs[j])
        kind = r % 100
        target = (r >> 8) % n_pages
        if kind < 10:  # off-corpus external
            links.append(f"https://offsite{r % 50:02d}.external/x/{r % 997}")
        elif kind < 15:  # relative path
            links.append(f"/p/{target}")
        elif kind < 30 and links:  # duplicate of an earlier link on the page
            links.append(links[r % len(links)])
        else:
            links.append(url_of(int(target), n_hosts, cdf))
    return links


_LANGS = ("en", "de", "fr")
_PARA = {
    "en": "the quick brown fox jumps over the lazy dog near the river bank",
    "de": "der schnelle braune fuchs springt ueber den faulen hund am flussufer",
    "fr": "le rapide renard brun saute par dessus le chien paresseux pres de la rive",
}


def page_html(i: int, n_pages: int, n_hosts: int, cdf: np.ndarray | None = None, weight: int = 1) -> tuple[str, str, str]:
    """(url, html, lang) for corpus row i — single source of truth used by the
    Spark generator, pytest, and the pure-Python crawl-order oracle."""
    url = url_of(i, n_hosts, cdf)
    lang = _LANGS[int(hashlib.md5(url.encode()).digest()[0]) % 3]
    links = outlinks_of(i, n_pages, n_hosts, cdf)
    anchors = "\n".join(f'<a href="{h}">link {j}</a>' for j, h in enumerate(links))
    para = " ".join([_PARA[lang]] * ((2 + i % 5) * weight))
    # adversarial bits for the clean_html port: script containing '<', nested
    # style quirk (multi-line style is NOT stripped by the reference regex),
    # attribute containing '</'
    html = f"""<!DOCTYPE html>
<html><head><title>Page {i} on {url}</title>
<meta charset="utf-8"><style>.x{{color:#{i % 999:03d}}}</style>
<style>.multi {{
  font-size: {i % 20}px;
}}</style>
<script type="text/javascript">var a={i}; if (a < {i % 7} && a > 2) {{ console.log("</div>"); }}</script>
</head>
<body data-x="a</b">
<h1>Document {i}</h1>
<p>{para}</p>
<script src="/static/app.js">inline < fallback</script>
<noscript>enable js</noscript>
{anchors}
<p>tail {i}</p>
</body></html>"""
    return url, html, lang


def _gen_batch(ids: np.ndarray, n_pages: int, n_hosts: int, cdf: np.ndarray, weight: int = 1) -> pd.DataFrame:
    urls, htmls, texts, langs, tss = [], [], [], [], []
    for i in ids:
        url, html, lang = page_html(int(i), n_pages, n_hosts, cdf, weight)
        urls.append(url)
        htmls.append(html.encode("utf-8"))
        texts.append(clean_html(html))
        langs.append(lang)
        tss.append(BASE_TS + timedelta(seconds=int(i)))
    return pd.DataFrame(
        {"url": urls, "warc_ts": tss, "html": htmls, "text": texts, "lang": langs}
    )


def gen_pages(spark: SparkSession, n_pages: int, n_hosts: int, parallelism: int | None = None, weight: int = 1) -> DataFrame:
    """Distributed corpus generation: spark.range -> mapInPandas. Scales to
    any size because each row is a pure function of its id."""
    parallelism = parallelism or spark.sparkContext.defaultParallelism
    cdf = _zipf_cdf(n_hosts)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            yield _gen_batch(b["id"].to_numpy(), n_pages, n_hosts, cdf, weight)

    return spark.range(0, n_pages, 1, parallelism).mapInPandas(gen, PAGES_SCHEMA)


def seed_urls(n_hosts: int) -> list[str]:
    """Seed list = one root per host + ~2% dup lines + ~1% empty lines,
    mirroring the reference's newline seed files whose falsy items are skipped
    (master/src/models/queue.model.ts:37-48)."""
    seeds = [f"https://{host_name(k)}/" for k in range(n_hosts)]
    out: list[str] = []
    for k, s in enumerate(seeds):
        out.append(s)
        if k % 50 == 7:
            out.append(s)  # duplicate line
        if k % 100 == 23:
            out.append("")  # empty line
    return out
