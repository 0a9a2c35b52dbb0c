"""URL canonicalization, request identity keys, and host extraction.

Reference semantics (andeya/pholcus):

* Dedup key composition ``(spider, rule, url, method)`` —
  ``Request.Unique() = hex(md5(spider+rule+url+method))``
  (``app/downloader/request/request.go:139-145``). The rule name is part
  of the key: the same URL under two parse rules is two frontier entries.
* Reference canonicalization is only Go's ``url.Parse(...).String()``
  re-serialization (``request.go:65-69``); sorted-query re-encoding
  exists only at download time (``app/downloader/surfer/util.go:51-55``).

North-rule extension (BASELINE.json): the key hash is **SHA-1 over a
canonicalized URL** — lowercase scheme/host, sorted query keys, stripped
fragment, default ports dropped. We keep the reference's key
*composition* and apply the stronger canonicalization. Both behaviors
are pinned by tests (``tests/test_keys.py``).

Spark-side: canonicalization requires real URL parsing, so it runs as a
vectorized pandas UDF (Arrow batches, never per-row Python); the SHA-1
itself is the JVM built-in ``F.sha1`` so it stays inside codegen when
the canonical column already exists.
"""

from __future__ import annotations

import hashlib
import re
from urllib.parse import parse_qsl, urlencode, urljoin, urlsplit, urlunsplit

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import StringType, StructField, StructType

_DEFAULT_PORTS = {"http": "80", "https": "443"}
# A URL this matches is already canonical: lowercase http(s) scheme and
# host, no port or userinfo, a non-empty path of printable ASCII, no
# query, fragment, whitespace or control byte. canonicalize_url returns
# it unchanged and host_of returns the captured host, so canon_host
# skips the urlsplit round trips for it (most absolutized links).
_CANONICAL_RE = re.compile(r"https?://([a-z0-9.\-]+)/[!-\"$->@-~]*")
_ASCII_LOWER = "abcdefghijklmnopqrstuvwxyz"


def canonicalize_url(url: str) -> str:
    """Canonical form: lowercase scheme/host, drop default port, sort query
    keys, strip fragment, normalize empty path to '/'.
    """
    if not url:
        return url
    parts = urlsplit(url.strip())
    scheme = parts.scheme.lower()
    host = parts.hostname.lower() if parts.hostname else ""
    port = parts.port
    netloc = host
    if port is not None and str(port) != _DEFAULT_PORTS.get(scheme, ""):
        netloc = f"{host}:{port}"
    path = parts.path or "/"
    query = urlencode(sorted(parse_qsl(parts.query, keep_blank_values=True)))
    return urlunsplit((scheme, netloc, path, query, ""))


def canonicalize_url_safe(url: str | None) -> str | None:
    """Canonicalize, returning None for malformed URLs (bad brackets,
    out-of-range ports, …) instead of raising — crawled page content is
    untrusted, and the reference drops unparseable hrefs rather than
    failing the crawl (``common/common.go:178-196`` MakeUrl ok=false)."""
    if url is None:
        return None
    try:
        return canonicalize_url(url)
    except Exception:
        return None


def canon_host(url: str | None) -> tuple[str | None, str | None]:
    """``(canonical URL, host)`` of one URL, both None when it is
    malformed — the pair :func:`canon_host_udf` returns per row and the
    parse kernel emits per link."""
    m = _CANONICAL_RE.fullmatch(url) if url else None
    if m is not None:
        return url, m.group(1)
    c = canonicalize_url_safe(url)
    return c, (host_of(c) if c is not None else None)


def host_of(url: str) -> str:
    """Registrable host of a URL (lowercased hostname)."""
    try:
        return (urlsplit(url).hostname or "").lower()
    except ValueError:
        return ""


def absolutize(base_url: str, href: str) -> str:
    """Resolve a (possibly relative) href against the page URL.

    Mirrors the reference's ``MakeUrl``/``GetHref`` absolutizers
    (``app/spider/common/common.go:178-260``).
    """
    return urljoin(base_url, href)


def absolutize_safe(base_url: str, href: str) -> str | None:
    """:func:`absolutize`, or None for an href ``urljoin`` cannot parse
    (an unbalanced IPv6 bracket, …): page content is untrusted, and a
    malformed link drops instead of failing the parse."""
    try:
        return absolutize(base_url, href)
    except ValueError:
        return None


def request_key(spider: str, rule: str, url: str, method: str = "GET") -> str:
    """SHA-1 hex of ``spider + rule + canonical(url) + method``.

    Key composition per ``request.go:139-145``; SHA-1 over canonicalized
    URL per the north rule.
    """
    canon = canonicalize_url(url)
    return hashlib.sha1(
        (spider + rule + canon + method.upper()).encode("utf-8")
    ).hexdigest()


def reference_md5_key(spider: str, rule: str, url: str, method: str = "GET") -> str:
    """The reference's exact key: hex(md5(spider+rule+url+method)),
    url only re-serialization-canonicalized (``request.go:139-145``).
    Kept for conformance pinning; the engine uses :func:`request_key`.
    """
    parts = urlsplit(url)
    reser = urlunsplit(parts)  # urllib re-serialization ≈ Go url.Parse().String()
    return hashlib.md5(
        (spider + rule + reser + method.upper()).encode("utf-8")
    ).hexdigest()


# ---------------------------------------------------------------------------
# Spark column API (vectorized — Arrow batches)
# ---------------------------------------------------------------------------


@pandas_udf(StringType())
def canonicalize_url_udf(urls: pd.Series) -> pd.Series:
    return urls.map(canonicalize_url_safe)


@pandas_udf(StringType())
def host_of_udf(urls: pd.Series) -> pd.Series:
    return urls.map(lambda u: host_of(u) if u is not None else None)


def request_key_col(
    spider: Column, rule: Column, canonical_url: Column, method: Column
) -> Column:
    """JVM-side SHA-1 over an already-canonicalized URL column.

    Stays inside whole-stage codegen — no Python in the hot dedup path.
    HTTP methods are ASCII tokens, so they are upper-cased by an ASCII
    ``translate``: Spark's ``upper`` maps case through ICU, whose
    first use per JVM runs a costly static initialization.
    """
    return F.sha1(
        F.concat(
            spider, rule, canonical_url,
            F.translate(method, _ASCII_LOWER, _ASCII_LOWER.upper()),
        ).cast("binary")
    )


def key_bucket_col(key: Column, num_buckets: int) -> Column:
    """Stable bucket id for a hex SHA-1 key: first 8 hex chars mod buckets.

    Used to partition the url_seen table and its Bloom sidecars, and to
    salt the frontier shuffle so one hot host cannot serialize a
    partition (SURVEY.md §4 'host skew').
    """
    return (F.conv(F.substring(key, 1, 8), 16, 10).cast("long") % num_buckets).cast(
        "int"
    )


def key_bucket(key: str, num_buckets: int) -> int:
    """Python mirror of :func:`key_bucket_col` (must agree bit-for-bit)."""
    return int(key[:8], 16) % num_buckets


CANON_HOST_TYPE = StructType(
    [StructField("curl", StringType()), StructField("host", StringType())]
)


@pandas_udf(CANON_HOST_TYPE)
def canon_host_udf(urls: pd.Series) -> pd.DataFrame:
    """Canonical URL + host (:func:`canon_host`) in one Python stage."""
    pairs = [canon_host(u) for u in urls]
    return pd.DataFrame(
        {"curl": [c for c, _ in pairs], "host": [h for _, h in pairs]}
    )
