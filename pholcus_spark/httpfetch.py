"""The live HTTP fetcher — the reference's one downloader, Surf
(`app/downloader/downloader_surfer.go:35-74`,
`surfer/surf.go:52-197`), as one :class:`HttpFetcher` over one blocking
transport.

The reference drives its downloader against a local httptest server
(`app/downloader/downloader_test.go:25-60`, `surfer/surf_test.go`);
the transport here is stdlib ``urllib`` with a DNS cache, so the whole
fetcher runs first-class against an in-process ``http.server``
(tests/test_httpfetch.py).

Semantics mirrored from the reference surf engine:

* per-request timeout (`request.go:45-50` DialTimeout/ConnTimeout)
* bounded in-fetch retries with pause on transport errors
  (`surf.go:158-197` TryTimes/RetryPause); HTTP error statuses are
  RESULTS, not retries — the engine's failure-requeue state machine
  owns those (matrix.go:186-202)
* redirect policy (`surfer/param.go:130-144`): 0 = unlimited
  (hard-capped), <0 = forbidden (the 3xx is the final answer), n = at
  most n hops. Method conversion follows Go's http.Client: 301/302/303
  re-issue as GET without body; 307/308 preserve method + body.
* request encodings (`surfer/param.go:61-84`): GET/HEAD; POST =
  application/x-www-form-urlencoded; POST-M = multipart/form-data
  (the post_data string is parsed as urlencoded pairs and re-encoded
  multipart, like the reference's writer loop).

Spark shape: one ``mapInPandas`` stage over the politeness-selected
wave; each Arrow batch runs :func:`fetch_one` over its rows on a pool
of ``max_conn_per_task`` threads sharing one session (network IO
releases the GIL). Politeness/rate limits are enforced UPSTREAM by wave
selection; the pool only bounds in-flight connections per task.
"""

from __future__ import annotations

import threading
import time
from urllib.parse import parse_qsl, urljoin

from pyspark.sql import DataFrame

from .fetch import Fetcher

# deterministic boundary: content only depends on post_data, so fetch
# retries and conformance fixtures see byte-identical multipart bodies
MULTIPART_BOUNDARY = "pholcus-spark-boundary-7f2a91c4"

_REDIRECT_HARD_CAP = 20


def encode_post(method: str, post_data: str) -> tuple[bytes | None, dict]:
    """(body, headers) for a frontier request (`surfer/param.go:61-84`).

    POST: the post_data string IS the urlencoded body. POST-M: parse it
    as urlencoded pairs, re-encode as multipart/form-data.
    """
    m = (method or "GET").upper()
    if m == "POST":
        return (post_data or "").encode(), {
            "Content-Type": "application/x-www-form-urlencoded"
        }
    if m == "POST-M":
        parts = []
        for k, v in parse_qsl(post_data or "", keep_blank_values=True):
            parts.append(
                f"--{MULTIPART_BOUNDARY}\r\n"
                f'Content-Disposition: form-data; name="{k}"\r\n\r\n'
                f"{v}\r\n"
            )
        parts.append(f"--{MULTIPART_BOUNDARY}--\r\n")
        return "".join(parts).encode(), {
            "Content-Type": f"multipart/form-data; boundary={MULTIPART_BOUNDARY}"
        }
    return None, {}


def wire_method(method: str) -> str:
    """POST-M goes on the wire as POST (the -M suffix only selects the
    encoding)."""
    m = (method or "GET").upper()
    return "POST" if m == "POST-M" else m


# -- cookie session helpers (reference: EnableCookie shares one
# cookiejar across all requests, `downloader_surfer.go:6,21-23`;
# distributed form: per-HOST name→value session state carried by the
# engine as a broadcast dim — see CrawlEngine._attach_cookies).
# Deliberate simplification vs RFC 6265, documented: cookies are scoped
# to the exact host (no Domain= widening), Path/Secure/Expires
# attributes are ignored, deletion = empty value. That is exactly the
# session-login shape the reference's EnableCookie exists for.


def parse_cookie_header(header: str) -> dict[str, str]:
    """'a=1; b=2' → {'a': '1', 'b': '2'} (request Cookie header)."""
    out: dict[str, str] = {}
    for part in (header or "").split(";"):
        part = part.strip()
        if "=" in part:
            k, _, v = part.partition("=")
            out[k.strip()] = v
    return out


def set_cookie_ops(raw: str) -> list[tuple[str, str]]:
    """The (name, value) operations one raw Set-Cookie header value
    encodes — ``""`` value means delete (the server-side logout
    idiom). :func:`merge_set_cookie` folds these into a jar; the
    engine's distributed per-host harvest replays the same ops on the
    executors, so the two paths cannot drift. Malformed headers yield
    no ops, like browsers."""
    from http.cookies import SimpleCookie

    try:
        c = SimpleCookie()
        c.load(raw)
        return [(name, morsel.value) for name, morsel in c.items()]
    except Exception:
        return []


def merge_set_cookie(jar: dict[str, str], raw: str) -> None:
    """Fold one raw Set-Cookie header value into the name→value jar
    (attributes dropped; an empty value removes the cookie)."""
    for name, value in set_cookie_ops(raw):
        if value == "":
            jar.pop(name, None)
        else:
            jar[name] = value


def cookie_header(jar: dict[str, str]) -> str:
    return "; ".join(f"{k}={v}" for k, v in jar.items())


def decode_content(body: bytes, headers) -> bytes:
    """Transparent response-body decompression by Content-Encoding —
    gzip / x-gzip, deflate (both the RFC zlib-wrapped form and the raw
    stream many servers actually send), and zlib — matching the
    reference Surf engine's reader selection
    (`surfer/surf.go:52-155`: gzip.NewReader / flate.NewReader /
    zlib.NewReader by header). The transport never decompresses, so
    this is the one decode point.

    Defensive on two fronts: (a) a gzip-labeled body that lacks the
    \\x1f\\x8b magic (a server that mislabels a plain body) is
    returned as-is rather than mis-decoded, and a deflate/zlib decode
    failure falls back to the raw bytes; (b) decode errors on truly
    mangled streams must not raise — the body goes to the parser
    as-is, same as an unencoded response."""
    import zlib as _zlib

    if not body or headers is None:
        return body
    enc = (headers.get("Content-Encoding") or "").strip().lower()
    try:
        if enc in ("gzip", "x-gzip"):
            if body[:2] != b"\x1f\x8b":
                return body  # labeled gzip, sent plain
            return _zlib.decompress(body, 16 + _zlib.MAX_WBITS)
        if enc == "deflate":
            try:
                return _zlib.decompress(body)
            except _zlib.error:
                return _zlib.decompress(body, -_zlib.MAX_WBITS)
        if enc == "zlib":
            return _zlib.decompress(body)
    except Exception:
        return body
    return body


def _all_headers(headers, name: str) -> list[str]:
    """Every value of a (possibly repeated) header: ``email.Message``
    (urllib's ``get_all``) or a plain dict."""
    if headers is None:
        return []
    if hasattr(headers, "get_all"):
        return headers.get_all(name) or []
    v = headers.get(name)
    return [v] if v else []


def fetch_one(
    url: str,
    method: str = "GET",
    post_data: str = "",
    timeout_s: float = 120.0,
    try_times: int = 3,
    retry_pause_s: float = 2.0,
    redirect_times: int = 0,
    cookie: str = "",
    cookies_out: list | None = None,
    ua: str = "",
    proxy: str = "",
    dns: DnsCache | None = None,
    extra_headers: dict | None = None,
    session=None,
) -> tuple[int, str, bytes]:
    """THE request loop — retry budget, redirect policy with Go's
    method conversion, POST/POST-M/HEAD encodings, cookie harvesting —
    run per row by :class:`HttpFetcher` and by standalone callers.

    ``session`` is the transport: by default a fresh urllib session
    built from ``timeout_s`` and ``dns`` (pass ``dns`` to share one
    :class:`DnsCache` across calls); a given session brings its own
    timeout and DNS cache. It needs one method,
    ``request(method, url, data, headers, proxy)``, which sends one hop
    without following redirects and returns the finished response:
    ``.status``, ``.headers`` (``get``; ``get_all`` for repeats) and
    ``.body`` (raw bytes, not decompressed). Tests drive the loop with
    scripted stub sessions.

    Returns (status, content_type, body); never raises — a transport
    failure after the retry budget yields the 599 sentinel. ``cookie``
    is the outgoing Cookie header (session state); Set-Cookie response
    headers are harvested into ``cookies_out`` (raw strings) when
    given, INCLUDING on 3xx hops (the classic login-then-redirect sets
    its session cookie on the 302). Newly set cookies apply to
    subsequent hops of the same chain; the Cookie header is only ever
    sent to the ORIGINAL host (a cross-host redirect must not leak the
    session, mirroring Go's http.Client domain check).

    ``extra_headers`` are author-set request headers
    (`request.Request{Header: ...}`, request.go:25 — spider-static
    ``SpiderSpec.headers`` merged with per-request ``hdr:`` temps by
    the engine): applied to every hop of the chain, EXCEPT a Cookie
    entry, which is home-host-only like the session jar (a cross-host
    redirect must not leak it) and is merged with the jar's cookies
    ("extra; jar" order). The POST encoding's Content-Type and the
    loop's redirect handling outrank same-named extras (Go's surf
    encoder sets Content-Type explicitly after copying param.Header).

    ``ua`` sets the User-Agent header when the caller provided none
    (`surfer/param.go:85-95` only fills a missing header — an
    extra_headers User-Agent therefore wins); ``proxy`` (``""`` =
    direct) routes every hop of the chain through the given proxy URL
    (`surf.go:139-152` sets the transport's proxy for the whole
    request).
    """
    from urllib.parse import urlsplit

    if session is None:
        session = _UrllibSession(timeout_s, dns=dns)
    home_host = urlsplit(url).netloc

    def _harvest(jar, headers) -> None:
        for raw in _all_headers(headers, "Set-Cookie"):
            merge_set_cookie(jar, raw)
            if cookies_out is not None:
                cookies_out.append(raw)

    for attempt in range(max(1, try_times)):
        jar = parse_cookie_header(cookie)
        try:
            cur_url, cur_method, cur_data = url, wire_method(method), None
            headers = {}
            if cur_method == "POST":
                cur_data, headers = encode_post(method, post_data)
            hops = 0
            extra_cookie = ""
            while True:
                hdrs = dict(headers)
                if extra_headers:
                    present = {k.lower() for k in hdrs}
                    for k, v in extra_headers.items():
                        kl = k.lower()
                        if kl == "cookie":
                            extra_cookie = v  # merged below, home-host only
                        elif kl not in present:
                            # case-insensitive setdefault: never emit two
                            # differently-cased copies of one header
                            hdrs[k] = v
                            present.add(kl)
                if not any(k.lower() == "accept-encoding" for k in hdrs):
                    # advertise compression now that decode_content
                    # handles the response side (surf.go:52-155 decodes
                    # transparently; Go's transport advertises gzip).
                    # An author-set Accept-Encoding wins, same rule as UA.
                    hdrs["Accept-Encoding"] = "gzip, deflate"
                if ua and not any(
                    k.lower() == "user-agent" for k in hdrs
                ):
                    # case-insensitive presence check: an author-set
                    # 'user-agent' must win (param.go:85-95 fills only
                    # when missing) — a plain setdefault would add a
                    # SECOND UA header beside a differently-cased one
                    hdrs["User-Agent"] = ua
                if urlsplit(cur_url).netloc == home_host:
                    parts = [
                        p
                        for p in (
                            extra_cookie,
                            cookie_header(jar) if jar else "",
                        )
                        if p
                    ]
                    if parts:
                        hdrs["Cookie"] = "; ".join(parts)
                r = session.request(cur_method, cur_url, cur_data, hdrs, proxy)
                status = r.status
                ctype = r.headers.get("Content-Type", "") or ""
                _harvest(jar, r.headers)
                location = r.headers.get("Location")
                if 300 <= status < 400 and location:
                    limit = (
                        _REDIRECT_HARD_CAP
                        if redirect_times == 0
                        else redirect_times
                    )
                    if redirect_times < 0 or hops >= limit:
                        return status, ctype, b""  # policy: stop here
                    hops += 1
                    cur_url = urljoin(cur_url, location)
                    if status in (301, 302, 303):
                        cur_method, cur_data, headers = "GET", None, {}
                    continue  # 307/308 keep method + body
                body = b"" if cur_method == "HEAD" else decode_content(
                    r.body, r.headers
                )
                return status, ctype, body
        except Exception:
            if cookies_out is not None:
                del cookies_out[:]  # retry re-harvests from scratch
            if attempt + 1 < max(1, try_times):
                time.sleep(retry_pause_s)
    return 599, "", b""


class _UrllibResponse:
    """One finished urllib response (or HTTPError, which IS a response
    in urllib's model)."""

    def __init__(self, status: int, headers, body: bytes):
        self.status = status
        self.headers = headers or {}
        self.body = body


class DnsCache:
    """The reference surfer's DNS cache (`surf.go:80-135`):
    ``host:port`` → resolved ip learned from the FIRST successful
    connection's peer address, and EVICTED when a dial through the
    cached ip fails (the next attempt re-resolves) — failure-driven
    eviction instead of a TTL, exactly the Go Dial closure's two
    deferred branches. Thread-safe; share one instance per fetch task
    so a batch of requests to the same host resolves once."""

    def __init__(self):
        self._lib: dict[str, str] = {}
        self._lock = threading.Lock()
        self.resolves = 0   # connections that went through the resolver
        self.hits = 0       # connections served from the cache
        self.evictions = 0  # cached entries dropped on dial failure

    def query(self, addr: str) -> str | None:
        with self._lock:
            return self._lib.get(addr)

    def reg(self, addr: str, ip: str) -> None:
        with self._lock:
            self._lib[addr] = ip
            self.resolves += 1

    def delete(self, addr: str) -> None:
        with self._lock:
            if self._lib.pop(addr, None) is not None:
                self.evictions += 1

    def connect(self, host: str, port: int, timeout, source_address=None):
        """Dial with the cache (the Go transport's Dial closure): a
        cached ip is dialed directly; a miss resolves via the normal
        stack and registers the peer ip on success."""
        import socket

        addr = f"{host}:{port}"
        cached = self.query(addr)
        if cached is not None:
            try:
                sock = socket.create_connection(
                    (cached, port), timeout, source_address
                )
                with self._lock:
                    self.hits += 1
                return sock
            except OSError:
                self.delete(addr)  # surf.go:122-126 — evict, fail the
                raise              # attempt; the retry loop re-dials
        sock = socket.create_connection((host, port), timeout, source_address)
        try:
            self.reg(addr, sock.getpeername()[0])
        except OSError:
            pass  # peer gone before getpeername — skip registration
        return sock


def _cached_dns_handler(dns: "DnsCache"):
    """urllib HTTPHandler whose connections dial through ``dns``.
    http only: an https connection needs the hostname for SNI/verify,
    and the resolver result wouldn't change the TLS handshake target —
    the reference likewise only rewrites the TCP dial address."""
    import http.client
    import urllib.request

    class _Conn(http.client.HTTPConnection):
        def connect(self):
            self.sock = dns.connect(
                self.host, self.port, self.timeout, self.source_address
            )

    class _Handler(urllib.request.HTTPHandler):
        def http_open(self, req):
            return self.do_open(_Conn, req)

    return _Handler()


class _UrllibSession:
    """The blocking urllib transport, shared by a batch's pool threads:
    ``request`` opens one hop (redirects surface as the 3xx) and returns
    the finished response. The direct route always dials through a
    :class:`DnsCache` (the reference surfer's is always on): ``dns``, or
    a fresh one per session."""

    def __init__(self, timeout_s: float, dns: DnsCache | None = None):
        import urllib.request

        class _NoRedirect(urllib.request.HTTPRedirectHandler):
            def redirect_request(self, req, fp, code, msg, headers, newurl):
                return None  # surface the 3xx instead of auto-following

        self._no_redirect = _NoRedirect
        # opener per proxy route ("" = direct), built lazily — one
        # session serves a whole task batch whose rows may rotate
        # through different proxies. The DNS cache applies only to the
        # direct route: a proxied request is resolved BY the proxy.
        self._openers = {
            "": urllib.request.build_opener(
                _NoRedirect,
                _cached_dns_handler(dns if dns is not None else DnsCache()),
            )
        }
        self._lock = threading.Lock()  # pool threads build openers
        self._timeout_s = timeout_s

    def _opener_for(self, proxy: str):
        import urllib.request

        with self._lock:
            op = self._openers.get(proxy)
            if op is None:
                op = urllib.request.build_opener(
                    self._no_redirect,
                    urllib.request.ProxyHandler(
                        {"http": proxy, "https": proxy}
                    ),
                )
                self._openers[proxy] = op
            return op

    def request(self, method, url, data, headers, proxy) -> _UrllibResponse:
        import urllib.error
        import urllib.request

        req = urllib.request.Request(
            url, data=data, method=method, headers=headers
        )
        try:
            with self._opener_for(proxy).open(
                req, timeout=self._timeout_s
            ) as resp:
                body = b"" if method == "HEAD" else resp.read()
                return _UrllibResponse(resp.status, resp.headers, body)
        except urllib.error.HTTPError as he:
            body = he.read() if he.fp else b""
            return _UrllibResponse(he.code, he.headers, body)


def _request_kwargs(pdf, with_cookie: bool) -> list[dict]:
    """Per-row :func:`fetch_one` keywords from a wave batch's
    optional request columns: ``method``, ``post_data``, ``proxy`` and
    ``ua`` (``proxy.assign_proxy`` / ``assign_user_agent``), ``hdr``
    (JSON map, ``fetch.headers_col``) and, with cookies on, ``cookie``
    (the engine's per-host session header)."""
    import json

    n = len(pdf)

    def col(name: str, default: str = "") -> list:
        return pdf[name].fillna(default).tolist() if name in pdf else [default] * n

    return [
        dict(url=u, method=m, post_data=d, proxy=px, ua=ua, cookie=ck,
             extra_headers=json.loads(hj) if hj else None)
        for u, m, d, px, ua, hj, ck in zip(
            pdf["url"].tolist(), col("method", "GET"), col("post_data"),
            col("proxy"), col("ua"), col("hdr"),
            col("cookie") if with_cookie else [""] * n,
        )
    ]


class HttpFetcher(Fetcher):
    """The live fetcher — the reference's one downloader, Surf
    (`downloader_surfer.go:35-74`, `surf.go:52-197`) — with the engine's
    fetcher contract (:class:`~pholcus_spark.fetch.Fetcher`, live
    defaults): ``fetch(wave) -> wave + (status, content_type, body,
    ok)``.

    One ``mapInPandas`` stage over the politeness-selected wave. Each
    Arrow batch opens one urllib session (with its DNS cache) and runs
    :func:`fetch_one` over its rows on a pool of ``max_conn_per_task``
    threads: the pool is the in-flight bound per task, and a retry
    pause keeps its thread. Politeness and rate limits are enforced
    UPSTREAM by wave selection.

    ``enable_cookie=True`` is the reference's EnableCookie
    (`downloader_surfer.go:6,21-23` — one cookiejar shared across
    requests), re-shaped for a distributed engine: the wave may carry a
    per-host ``cookie`` header column (the engine attaches it from its
    session store via a broadcast dim), and the result gains a
    ``set_cookies array<string>`` column of raw Set-Cookie headers the
    engine harvests back into the store after the wave. Cookie STATE
    never lives in the executor (tasks are stateless/retryable); it
    round-trips through the driver-held store, which is O(hosts) — the
    same scale class as the robots dim."""

    def __init__(
        self,
        timeout_s: float = 120.0,
        try_times: int = 3,
        retry_pause_s: float = 2.0,
        redirect_times: int = 0,
        max_conn_per_task: int = 16,
        enable_cookie: bool = False,
    ):
        self.timeout_s = timeout_s
        self.try_times = try_times
        self.retry_pause_s = retry_pause_s
        self.redirect_times = redirect_times
        self.max_conn_per_task = max_conn_per_task
        self.enable_cookie = enable_cookie

    def fetch(self, wave: DataFrame) -> DataFrame:
        timeout_s = self.timeout_s
        max_conn = self.max_conn_per_task
        loop_kw = dict(
            try_times=self.try_times,
            retry_pause_s=self.retry_pause_s,
            redirect_times=self.redirect_times,
        )
        with_cookies = self.enable_cookie
        from pyspark.sql.types import (
            ArrayType,
            BinaryType,
            BooleanType,
            IntegerType,
            StringType,
            StructField,
            StructType,
        )

        # never StructType.add on wave.schema: it mutates the frame's
        # CACHED schema in place and pyspark 4 then resolves the
        # phantom columns against the child plan
        schema = StructType(
            list(wave.schema.fields)
            + [
                StructField("status", IntegerType()),
                StructField("content_type", StringType()),
                StructField("body", BinaryType()),
                StructField("ok", BooleanType()),
            ]
            + (
                [StructField("set_cookies", ArrayType(StringType()))]
                if with_cookies
                else []
            )
        )

        def fetch_batch(rows):
            from concurrent.futures import ThreadPoolExecutor

            s = _UrllibSession(timeout_s)

            def one(kw):
                out = [] if with_cookies else None
                res = fetch_one(session=s, cookies_out=out, **kw, **loop_kw)
                return (*res, out)

            with ThreadPoolExecutor(max_workers=max_conn) as pool:
                return list(pool.map(one, rows))

        def run(batches):
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                res = fetch_batch(_request_kwargs(pdf, with_cookies))
                pdf = pdf.copy()
                pdf["status"] = [r[0] for r in res]
                pdf["content_type"] = [r[1] for r in res]
                pdf["body"] = [r[2] for r in res]
                pdf["ok"] = [r[0] < 400 for r in res]
                if with_cookies:
                    pdf["set_cookies"] = [r[3] for r in res]
                yield pdf

        return wave.mapInPandas(run, schema)
