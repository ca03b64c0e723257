"""URL canonicalization, host extraction, hashing.

The reference treats queue items as opaque strings — no canonicalization, no
dedup key (SURVEY.md F4/J3; queue insert is a raw string push,
master/src/models/queue.model.ts:32-68). The north_rule adds a URL-seen set,
which needs a canonical form + stable hash. Rules (documented contract):

1. scheme + host lowercased
2. default ports stripped (:80 http, :443 https)
3. fragment stripped
4. empty path -> '/'
5. trailing '?' stripped
6. whitespace trimmed

Every rule exists in BOTH a pure-Python form (driver / oracle side) and a
Spark Column form (JVM codegen side); tests assert they agree. Hashing uses
``xxhash64`` (Spark built-in, seed 42) — 64-bit, collision-safe enough for a
10^10 frontier when paired with the exact-url anti-join fallback.
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

_SCHEME_HOST = re.compile(r"^(https?)://([^/?#]+)([^?#]*)(\?[^#]*)?(#.*)?$", re.IGNORECASE)


def canonicalize_url(url: str) -> str | None:
    """Pure-Python canonical form; returns None for non-http(s)/garbage."""
    if url is None:
        return None
    url = url.strip()
    m = _SCHEME_HOST.match(url)
    if not m:
        return None
    scheme, host, path, query, _frag = m.groups()
    scheme = scheme.lower()
    host = host.lower()
    if scheme == "http" and host.endswith(":80"):
        host = host[:-3]
    elif scheme == "https" and host.endswith(":443"):
        host = host[:-4]
    if not path:
        path = "/"
    if query in (None, "?"):
        query = ""
    return f"{scheme}://{host}{path}{query}"


def canonicalize_url_col(url: Column) -> Column:
    """Spark-native canonicalization — same 6 rules, pure built-ins so the
    whole expression stays in WholeStageCodegen (no Python in the 100 TB
    path)."""
    u = F.trim(url)
    scheme = F.lower(F.regexp_extract(u, r"(?i)^(https?)://", 1))
    rest = F.regexp_extract(u, r"(?i)^https?://([^#]*)", 1)  # strip fragment
    host = F.lower(F.regexp_extract(rest, r"^([^/?#]+)", 1))
    host = (
        F.when((scheme == F.lit("http")) & host.endswith(":80"), F.substring(host, 1, F.length(host) - F.lit(3)))
        .when((scheme == F.lit("https")) & host.endswith(":443"), F.substring(host, 1, F.length(host) - F.lit(4)))
        .otherwise(host)
    )
    path = F.regexp_extract(rest, r"^[^/?#]+([^?#]*)", 1)
    path = F.when(path == "", F.lit("/")).otherwise(path)
    query = F.regexp_extract(rest, r"^[^?#]*(\?[^#]*)", 1)
    query = F.when(query == F.lit("?"), F.lit("")).otherwise(query)
    out = F.concat(scheme, F.lit("://"), host, path, query)
    return F.when(scheme == "", F.lit(None).cast("string")).otherwise(out)


def host_of(url: str) -> str | None:
    c = canonicalize_url(url)
    if c is None:
        return None
    m = re.match(r"^https?://([^/]+)", c)
    return m.group(1) if m else None


def host_col(url: Column) -> Column:
    """Host of an (already canonical) url — JVM-side."""
    return F.regexp_extract(url, r"^https?://([^/]+)", 1)


def registrable_domain(host: str) -> str | None:
    """Last-3-labels join — exactly what domain_count.js:41-44 does
    (``domain.split('.').slice(-3).join('.')``)."""
    if not host:
        return None
    return ".".join(host.split(".")[-3:])


def registrable_domain_col(host: Column) -> Column:
    parts = F.split(host, r"\.")
    n = F.array_size(parts)
    return F.array_join(F.slice(parts, F.greatest(F.lit(1), n - F.lit(2)), F.lit(3)), ".")


def url_hash_col(canonical_url: Column) -> Column:
    """64-bit stable hash of the canonical url (xxhash64, Spark built-in,
    fixed seed 42 — deterministic across sessions and cluster sizes)."""
    return F.xxhash64(canonical_url)
