"""Live-HTTP fetch path: HttpFetcher against an in-process
``http.server`` — mirroring the reference's downloader tests against a
local httptest server (`app/downloader/downloader_test.go:25-60`,
`surfer/surf_test.go`).

Covers status/redirect/timeout/retry/POST/POST-M/HEAD semantics at the
function level, then drives a FULL engine crawl over localhost and
checks it against the pure-Python oracle — the first executed coverage
of a live fetch path end-to-end.
"""

from __future__ import annotations

import gzip
import shutil
import tempfile
import threading
import time
from collections import defaultdict
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

import pytest

from pholcus_spark import fixtures, testkit
from pholcus_spark.httpfetch import (
    MULTIPART_BOUNDARY,
    HttpFetcher,
    encode_post,
    fetch_one,
)
from pholcus_spark.oracle import OracleConfig
from pholcus_spark.spiderspec import LinkRule, SpiderSpec


class _SiteHandler(BaseHTTPRequestHandler):
    """Serves a fixtures corpus by path; counts attempts per
    (method, path) so fail_attempts pages fail their first N requests
    (the live analog of the FixtureFetcher flaky model)."""

    pages: dict[str, dict] = {}
    counts: defaultdict = defaultdict(int)
    echo_paths: set = set()
    slow_paths: dict = {}
    redirects: dict = {}
    set_cookie_paths: dict = {}  # path -> Set-Cookie header value
    cookie_gate: dict = {}  # path -> required "name=value" in Cookie
    header_gate: dict = {}  # path -> (Name, value) required exactly
    hdr_echo_paths: set = set()  # echo request headers back as body

    def _respond(self, send_body: bool = True):
        path = self.path
        if path in self.slow_paths:
            time.sleep(self.slow_paths[path])
        gate = self.cookie_gate.get(path)
        if gate and gate not in (self.headers.get("Cookie") or ""):
            self.send_response(403)
            self.end_headers()
            return
        hgate = self.header_gate.get(path)
        if hgate and self.headers.get(hgate[0]) != hgate[1]:
            self.send_response(403)
            self.end_headers()
            return
        if path in self.hdr_echo_paths:
            body = "\n".join(
                f"{k}: {v}" for k, v in sorted(self.headers.items())
            ).encode()
            self.send_response(200)
            self.send_header("Content-Type", "text/plain")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            if send_body:
                self.wfile.write(body)
            return
        if path in self.redirects:
            status, loc = self.redirects[path]
            self.send_response(status)
            self.send_header("Location", loc)
            if path in self.set_cookie_paths:  # login-then-redirect
                self.send_header("Set-Cookie", self.set_cookie_paths[path])
            self.end_headers()
            return
        if path in self.echo_paths:
            n = int(self.headers.get("Content-Length") or 0)
            body = self.rfile.read(n) if n else b""
            ctype = self.headers.get("Content-Type", "")
            self.send_response(200)
            self.send_header("Content-Type", "text/plain")
            self.end_headers()
            if send_body:
                self.wfile.write(
                    f"method={self.command};ctype={ctype};".encode() + body
                )
            return
        page = self.pages.get(path)
        if page is None:
            self.send_response(404)
            self.end_headers()
            return
        key = (path,)  # attempts counted across methods, like tries
        self.counts[key] += 1
        fail_n = page.get("fail_attempts") or (
            1 if page.get("flaky") else 0
        )
        if self.counts[key] <= fail_n:
            self.send_response(503)
            self.end_headers()
            return
        status = page.get("status", 200)
        body = page.get("body") or b""
        encoding = page.get("encoding")
        if encoding:  # compressed wire body (real servers sometimes
            # compress even for clients that didn't advertise it)
            import zlib as _z

            def _raw_deflate(b):
                c = _z.compressobj(wbits=-_z.MAX_WBITS)
                return c.compress(b) + c.flush()

            body = {
                "gzip": lambda b: gzip.compress(b, mtime=0),
                "deflate": _z.compress,  # RFC form: zlib-wrapped
                "deflate_raw": _raw_deflate,  # what many servers send
                "zlib": _z.compress,
            }[encoding](body)
        self.send_response(status)
        self.send_header("Content-Type", page.get("content_type", ""))
        if encoding:
            self.send_header(
                "Content-Encoding",
                "deflate" if encoding == "deflate_raw" else encoding,
            )
        self.send_header("Content-Length", str(len(body)))
        if path in self.set_cookie_paths:
            self.send_header("Set-Cookie", self.set_cookie_paths[path])
        self.end_headers()
        if send_body and status < 400:
            self.wfile.write(body)

    def do_GET(self):
        self._respond()

    def do_POST(self):
        self._respond()

    def do_HEAD(self):
        self._respond(send_body=False)

    def log_message(self, *a):  # quiet
        pass


@pytest.fixture(scope="module")
def server():
    srv = ThreadingHTTPServer(("127.0.0.1", 0), _SiteHandler)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    yield f"127.0.0.1:{srv.server_address[1]}"
    srv.shutdown()


def _reset(pages: dict[str, dict]):
    _SiteHandler.pages = pages
    _SiteHandler.counts = defaultdict(int)
    _SiteHandler.echo_paths = set()
    _SiteHandler.slow_paths = {}
    _SiteHandler.redirects = {}
    _SiteHandler.set_cookie_paths = {}
    _SiteHandler.cookie_gate = {}
    _SiteHandler.header_gate = {}
    _SiteHandler.hdr_echo_paths = set()


# ---------------------------------------------------------------------------
# fetch_one semantics
# ---------------------------------------------------------------------------


def test_get_and_status(server):
    _reset({"/ok": {"body": b"hello", "content_type": "text/plain"},
            "/gone": {"status": 404}})
    assert fetch_one(f"http://{server}/ok")[:1] == (200,)
    assert fetch_one(f"http://{server}/ok")[2] == b"hello"
    assert fetch_one(f"http://{server}/gone")[0] == 404
    assert fetch_one(f"http://{server}/nowhere")[0] == 404


def test_post_urlencoded_and_multipart(server):
    _reset({})
    _SiteHandler.echo_paths = {"/echo"}
    st, _ct, body = fetch_one(
        f"http://{server}/echo", "POST", "a=1&b=two"
    )
    assert st == 200
    assert b"method=POST" in body
    assert b"application/x-www-form-urlencoded" in body
    assert body.endswith(b"a=1&b=two")
    # POST-M: multipart encoding, still POST on the wire
    st, _ct, body = fetch_one(
        f"http://{server}/echo", "POST-M", "a=1&b=two"
    )
    assert st == 200
    assert b"method=POST" in body
    assert f"multipart/form-data; boundary={MULTIPART_BOUNDARY}".encode() in body
    assert b'Content-Disposition: form-data; name="a"\r\n\r\n1' in body
    assert b'Content-Disposition: form-data; name="b"\r\n\r\ntwo' in body


def test_encode_post_multipart_shape():
    body, headers = encode_post("POST-M", "x=alpha&y=")
    assert headers["Content-Type"].startswith("multipart/form-data")
    text = body.decode()
    assert text.count(f"--{MULTIPART_BOUNDARY}") == 3  # 2 fields + closer
    assert text.endswith(f"--{MULTIPART_BOUNDARY}--\r\n")
    assert 'name="y"\r\n\r\n\r\n' in text  # blank value kept


def test_head_no_body(server):
    _reset({"/h": {"body": b"payload", "content_type": "text/plain"}})
    st, ct, body = fetch_one(f"http://{server}/h", "HEAD")
    assert st == 200 and body == b""


def test_redirect_policies(server):
    _reset({"/dst": {"body": b"end", "content_type": "text/plain"}})
    _SiteHandler.redirects = {
        "/r1": (302, "/dst"),
        "/r2": (302, "/r1"),
        "/r307": (307, "/dst"),
    }
    # unlimited (0): follows the chain
    assert fetch_one(f"http://{server}/r2")[0] == 200
    # forbidden (<0): the 3xx is the final answer
    assert fetch_one(f"http://{server}/r2", redirect_times=-1)[0] == 302
    # bounded: 1 hop can't clear a 2-hop chain, 2 hops can
    assert fetch_one(f"http://{server}/r2", redirect_times=1)[0] == 302
    assert fetch_one(f"http://{server}/r2", redirect_times=2)[0] == 200
    # 307 preserves method+body; 302 converts POST -> GET
    _SiteHandler.echo_paths = {"/dst"}
    _, _, b307 = fetch_one(f"http://{server}/r307", "POST", "k=v")
    assert b"method=POST" in b307 and b307.endswith(b"k=v")
    _, _, b302 = fetch_one(f"http://{server}/r1", "POST", "k=v")
    assert b"method=GET" in b302


def test_transport_retry_then_599(server):
    # a closed port: connection refused -> retry try_times, then 599
    t0 = time.time()
    st, _, _ = fetch_one(
        "http://127.0.0.1:9/none", try_times=2, retry_pause_s=0.2,
        timeout_s=2.0,
    )
    assert st == 599
    assert time.time() - t0 >= 0.2  # one pause between two attempts


def test_timeout_is_transport_error(server):
    _reset({"/slow": {"body": b"z", "content_type": "text/plain"}})
    _SiteHandler.slow_paths = {"/slow": 1.5}
    st, _, _ = fetch_one(
        f"http://{server}/slow", timeout_s=0.3, try_times=1
    )
    assert st == 599


def test_fetch_one_cookie_session(server):
    """EnableCookie semantics at the function level: Set-Cookie is
    harvested, an explicit session header opens the gate, no header →
    403 (`downloader_surfer.go:6,21-23`)."""
    _reset(
        {
            "/login": {"body": b"in", "content_type": "text/plain"},
            "/private": {"body": b"secret", "content_type": "text/plain"},
        }
    )
    _SiteHandler.set_cookie_paths = {"/login": "sid=abc123; Path=/"}
    _SiteHandler.cookie_gate = {"/private": "sid=abc123"}
    out: list = []
    st, _, _ = fetch_one(f"http://{server}/login", cookies_out=out)
    assert st == 200 and out == ["sid=abc123; Path=/"]
    assert fetch_one(f"http://{server}/private")[0] == 403
    st2, _, body = fetch_one(f"http://{server}/private", cookie="sid=abc123")
    assert (st2, body) == (200, b"secret")


def test_fetch_one_cookie_set_on_redirect_hop(server):
    """The classic login flow sets its session cookie ON the 302; the
    next hop of the chain must already carry it."""
    _reset({"/private": {"body": b"secret", "content_type": "text/plain"}})
    _SiteHandler.redirects = {"/login302": (302, "/private")}
    _SiteHandler.set_cookie_paths = {"/login302": "sid=r3d1r; Path=/"}
    _SiteHandler.cookie_gate = {"/private": "sid=r3d1r"}
    out: list = []
    st, _, body = fetch_one(
        f"http://{server}/login302", "POST", "u=x", cookies_out=out
    )
    assert (st, body) == (200, b"secret")
    assert out == ["sid=r3d1r; Path=/"]


def test_cookie_helpers_roundtrip():
    from pholcus_spark.httpfetch import (
        cookie_header,
        merge_set_cookie,
        parse_cookie_header,
    )

    jar = parse_cookie_header("a=1; b=2")
    assert jar == {"a": "1", "b": "2"}
    merge_set_cookie(jar, "c=3; Path=/; HttpOnly")
    merge_set_cookie(jar, "a=9")
    merge_set_cookie(jar, "b=; Max-Age=0")  # empty value deletes
    merge_set_cookie(jar, "totally junk without equals")  # ignored
    assert jar == {"a": "9", "c": "3"}
    assert cookie_header(jar) == "a=9; c=3"


# ---------------------------------------------------------------------------
# full engine crawl over localhost == oracle
# ---------------------------------------------------------------------------


def _localize(corpus, netloc: str):
    """Rewrite a single-host fixture corpus onto the live server's
    netloc (URLs in metadata everywhere; bodies only for html)."""
    old = "h000.test"
    for p in corpus.pages:
        p["url"] = p["url"].replace(old, netloc)
        p["host"] = netloc
        p["out_links"] = [l.replace(old, netloc) for l in p["out_links"]]
        if "html" in (p.get("content_type") or ""):
            p["body"] = p["body"].replace(old.encode(), netloc.encode())
    for s in corpus.seeds:
        s["url"] = s["url"].replace(old, netloc)
    for r in corpus.robots:
        r["host"] = netloc
    return corpus


def _path_of(url: str) -> str:
    return "/" + url.split("/", 3)[3]


def test_content_encoding_decode_live(server):
    """surf.go:52-155 parity: compressed response bodies decode
    transparently — gzip, RFC (zlib-wrapped) deflate, the raw-deflate
    stream many real servers send under the 'deflate' label, and zlib."""
    body = b"<html>compressed page body</html>"
    _reset({
        "/gz": {"body": body, "content_type": "text/html",
                "encoding": "gzip"},
        "/df": {"body": body, "content_type": "text/html",
                "encoding": "deflate"},
        "/dfr": {"body": body, "content_type": "text/html",
                 "encoding": "deflate_raw"},
        "/zl": {"body": body, "content_type": "text/html",
                "encoding": "zlib"},
    })
    for path in ("/gz", "/df", "/dfr", "/zl"):
        status, _ct, got = fetch_one(f"http://{server}{path}")
        assert (status, got) == (200, body), path


def test_accept_encoding_advertised_and_author_override(server):
    """With decode in place the stdlib fetcher advertises compression
    (Go's transport advertises gzip); an author-set Accept-Encoding
    wins, same precedence rule as User-Agent."""
    _reset({})
    _SiteHandler.hdr_echo_paths = {"/hdrs"}
    _, _, got = fetch_one(f"http://{server}/hdrs")
    assert b"Accept-Encoding: gzip, deflate" in got
    _, _, got = fetch_one(
        f"http://{server}/hdrs", extra_headers={"Accept-Encoding": "identity"}
    )
    assert b"Accept-Encoding: identity" in got


def test_decode_content_defensive():
    """decode_content must never raise and never double-decode: a
    'gzip'-labeled body without the magic bytes (a server that
    mislabels a plain body) passes through untouched, and mangled
    streams fall back to the raw bytes."""
    from pholcus_spark.httpfetch import decode_content

    plain = b"<html>already decoded</html>"
    # mislabeled: header present, body plain
    assert decode_content(plain, {"Content-Encoding": "gzip"}) == plain
    assert decode_content(plain, {"Content-Encoding": "deflate"}) == plain
    # mangled gzip stream: raw bytes, no raise
    bad = b"\x1f\x8bgarbage"
    assert decode_content(bad, {"Content-Encoding": "gzip"}) == bad
    # no header / empty body passthrough
    assert decode_content(plain, {}) == plain
    assert decode_content(b"", {"Content-Encoding": "gzip"}) == b""
    # real decode
    assert decode_content(
        gzip.compress(plain, mtime=0), {"Content-Encoding": "x-gzip"}
    ) == plain


def test_engine_live_crawl_compressed_bodies(spark, server):
    """VERDICT r4 item 3 'done' bar: gzip + deflate bodies served
    through a FULL engine crawl — conformance vs the oracle unchanged
    (the oracle sees the plain corpus; the wire carries compressed)."""
    corpus = _localize(
        fixtures.generate(
            fixtures.SiteSpec(
                n_hosts=1, list_pages=3, details_per_list=2,
                images_per_detail=1, flaky_rate=0.0, fail_404_rate=0.0,
            )
        ),
        server,
    )
    encs = ["gzip", "deflate", "deflate_raw", None]
    _reset({
        _path_of(p["url"]): (
            dict(p, encoding=encs[i % len(encs)])
            if encs[i % len(encs)]
            else p
        )
        for i, p in enumerate(corpus.pages)
    })

    from pholcus_spark.catalog import SnapshotCatalog
    from pholcus_spark.engine import CrawlEngine, EngineConfig

    workdir = tempfile.mkdtemp(prefix="pholcus-live-gz-")
    try:
        _pages, _i, _t, _s, robots = fixtures.to_spark(spark, corpus)
        spec = SpiderSpec("site")
        catalog = SnapshotCatalog(workdir, spark)
        engine = CrawlEngine(
            spark, catalog,
            HttpFetcher(timeout_s=15.0, try_times=1),
            spec, robots,
            EngineConfig(wave_window_ms=6000, commit_every=2),
        )
        engine.seed(corpus.seeds)
        state = engine.run()
        assert state["stopped"]
        run = testkit.EngineRun(catalog, state, workdir)
        res = testkit.run_oracle(
            corpus, spec, OracleConfig(wave_window_ms=6000)
        )
        engine_seen = {
            r.key for r in run.df("url_seen").select("key").collect()
        }
        assert engine_seen == res.seen
        assert testkit.items_set_engine(run) == testkit.items_set_oracle(res)
        img_df = run.df("images")
        assert {(r.image_id, r.caption) for r in img_df.collect()} == {
            (i["image_id"], i["caption"]) for i in res.images
        }
        assert img_df.where("NOT valid").count() == 0
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


def test_httpfetcher_wrapper_parity_with_stdlib(spark, server):
    """Execute HttpFetcher.fetch END TO END — the mapInPandas wrapper,
    schema assembly, column plumbing and batch gather — against the
    live server, and require row-for-row parity with fetch_one called
    per row on the same scenarios: OK page, 404, miss, redirect chain,
    POST echo, compressed body, per-row extra header."""
    import json

    body = b"<html>page</html>"
    _reset({
        "/ok": {"body": body, "content_type": "text/html"},
        "/gone": {"status": 404},
        "/gz": {"body": body, "content_type": "text/html",
                "encoding": "gzip"},
        "/land": {"body": b"landed", "content_type": "text/plain"},
    })
    _SiteHandler.redirects = {"/hop": (302, "/land")}
    _SiteHandler.echo_paths = {"/echo"}
    _SiteHandler.header_gate = {"/gated": ("X-Token", "t0k")}
    _SiteHandler.pages["/gated"] = {
        "body": b"secret", "content_type": "text/plain"
    }

    rows = [
        (f"http://{server}/ok", "GET", "", ""),
        (f"http://{server}/gone", "GET", "", ""),
        (f"http://{server}/nowhere", "GET", "", ""),
        (f"http://{server}/gz", "GET", "", ""),
        (f"http://{server}/hop", "GET", "", ""),
        (f"http://{server}/echo", "POST", "a=1&b=2", ""),
        (f"http://{server}/gated", "GET", "",
         json.dumps({"X-Token": "t0k"})),
    ]
    wave = spark.createDataFrame(
        rows, "url string, method string, post_data string, hdr string"
    ).repartition(2)

    out = HttpFetcher(timeout_s=15.0, try_times=1).fetch(wave)
    assert out.columns[-4:] == ["status", "content_type", "body", "ok"]
    got = {
        r.url: (r.status, r.content_type, bytes(r.body or b""), r.ok)
        for r in out.collect()
    }
    want = {}
    for url, method, post_data, hdr in rows:
        st, ct, b = fetch_one(
            url, method, post_data, timeout_s=15.0, try_times=1,
            extra_headers=json.loads(hdr) if hdr else None,
        )
        want[url] = (st, ct, b, st < 400)
    assert got == want
    assert got[f"http://{server}/ok"][2] == body
    assert got[f"http://{server}/gz"][2] == body  # decoded
    assert got[f"http://{server}/hop"][2] == b"landed"
    assert got[f"http://{server}/gated"][0] == 200
    assert got[f"http://{server}/nowhere"][3] is False


def test_httpfetcher_bounds_requests_in_flight(spark, server, monkeypatch):
    """One task's batch keeps exactly max_conn_per_task requests in
    flight: the batch runs its rows on a pool of max_conn_per_task
    threads over one shared session, so it neither serializes the
    batch nor exceeds the bound."""
    _reset({f"/slow/{i}": {"body": b"s", "content_type": "text/plain"}
            for i in range(8)})
    _SiteHandler.slow_paths = {f"/slow/{i}": 0.4 for i in range(8)}
    lock = threading.Lock()
    state = {"now": 0, "peak": 0}
    respond = _SiteHandler._respond

    def counted(self, send_body=True):
        with lock:
            state["now"] += 1
            state["peak"] = max(state["peak"], state["now"])
        try:
            respond(self, send_body)
        finally:
            with lock:
                state["now"] -= 1

    monkeypatch.setattr(_SiteHandler, "_respond", counted)
    wave = spark.createDataFrame(
        [(f"http://{server}/slow/{i}",) for i in range(8)], "url string"
    ).coalesce(1)
    rows = (
        HttpFetcher(try_times=1, max_conn_per_task=3)
        .fetch(wave).select("status").collect()
    )
    assert [r.status for r in rows] == [200] * 8
    assert state["peak"] == 3


def test_engine_live_http_conformance(spark, server):
    corpus = _localize(
        fixtures.generate(
            fixtures.SiteSpec(
                n_hosts=1, list_pages=4, details_per_list=2,
                images_per_detail=1, flaky_rate=0.25, fail_404_rate=0.15,
            )
        ),
        server,
    )
    _reset({_path_of(p["url"]): p for p in corpus.pages})

    from pholcus_spark.catalog import SnapshotCatalog
    from pholcus_spark.engine import CrawlEngine, EngineConfig

    workdir = tempfile.mkdtemp(prefix="pholcus-live-")
    try:
        _pages, _i, _t, _s, robots = fixtures.to_spark(spark, corpus)
        spec = SpiderSpec("site")
        catalog = SnapshotCatalog(workdir, spark)
        engine = CrawlEngine(
            spark, catalog,
            HttpFetcher(timeout_s=15.0, try_times=1),
            spec, robots,
            EngineConfig(wave_window_ms=6000, commit_every=2),
        )
        engine.seed(corpus.seeds)
        state = engine.run()
        assert state["stopped"]
        run = testkit.EngineRun(catalog, state, workdir)
        res = testkit.run_oracle(
            corpus, spec, OracleConfig(wave_window_ms=6000)
        )
        seen_df = run.df("url_seen")
        engine_seen = {r.key for r in seen_df.select("key").collect()}
        assert engine_seen == res.seen
        assert testkit.items_set_engine(run) == testkit.items_set_oracle(res)
        img_df = run.df("images")
        engine_imgs = {(r.image_id, r.caption) for r in img_df.collect()}
        assert engine_imgs == {
            (i["image_id"], i["caption"]) for i in res.images
        }
        assert img_df.where("NOT valid").count() == 0
        ff = run.df("failures_final")
        engine_ff = sorted(r.key for r in ff.collect()) if ff else []
        assert engine_ff == sorted(res.failed_final)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


def test_engine_cookie_gated_crawl(spark, server):
    """Engine conformance through a cookie-gated site: wave-1 list
    pages start a session (Set-Cookie), every wave-2 detail page 403s
    unless the session cookie is carried. With enable_cookie the
    engine's driver-held store round-trips the session between waves
    and the crawl matches the (cookie-blind) oracle exactly — the
    oracle models page CONTENT; the live server enforces the gate, so
    any dropped cookie shows up as a failure-set mismatch."""
    corpus = _localize(
        fixtures.generate(
            fixtures.SiteSpec(
                n_hosts=1, list_pages=2, details_per_list=2,
                images_per_detail=0, flaky_rate=0.0, fail_404_rate=0.0,
            )
        ),
        server,
    )
    _reset({_path_of(p["url"]): p for p in corpus.pages})
    _SiteHandler.set_cookie_paths = {
        _path_of(p["url"]): "sid=s3cret; Path=/"
        for p in corpus.pages
        if "/p/" in p["url"]
    }
    _SiteHandler.cookie_gate = {
        _path_of(p["url"]): "sid=s3cret"
        for p in corpus.pages
        if "/d/" in p["url"]
    }

    from pholcus_spark.catalog import SnapshotCatalog
    from pholcus_spark.engine import CrawlEngine, EngineConfig

    workdir = tempfile.mkdtemp(prefix="pholcus-cookie-")
    try:
        _pages, _i, _t, _s, robots = fixtures.to_spark(spark, corpus)
        spec = SpiderSpec("site")
        engine = CrawlEngine(
            spark, SnapshotCatalog(workdir, spark),
            HttpFetcher(timeout_s=15.0, try_times=1, enable_cookie=True),
            spec, robots,
            EngineConfig(wave_window_ms=6000, commit_every=2),
        )
        engine.seed(corpus.seeds)
        state = engine.run()
        run = testkit.EngineRun(engine.catalog, state, workdir)
        res = testkit.run_oracle(corpus, spec, OracleConfig(wave_window_ms=6000))
        assert {r.key for r in run.df("url_seen").select("key").collect()} == res.seen
        assert testkit.items_set_engine(run) == testkit.items_set_oracle(res)
        ff = run.df("failures_final")
        assert (ff.count() if ff else 0) == 0 and not res.failed_final
        # the driver store holds the harvested session (keyed by the
        # frontier's host column: hostname without port, per host_of)
        assert engine._cookie_store[server.split(":")[0]] == {"sid": "s3cret"}
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


def test_harvest_cookies_distributed_fold_equivalence(spark):
    """VERDICT r4 item 7: the cookie harvest folds per host ON THE
    EXECUTORS and collects O(hosts) net-delta rows, not O(wave) raw
    rows. The distributed fold must equal the sequential
    merge_set_cookie replay in (-priority, seq) order — including
    same-name overwrites across priorities and the empty-value delete
    reaching a cookie that pre-exists in the driver jar."""
    from types import SimpleNamespace

    from pholcus_spark.engine import CrawlEngine
    from pholcus_spark.httpfetch import merge_set_cookie

    rows = [
        ("h1.test", 5, 1, ["sid=first; Path=/"]),
        ("h1.test", 5, 2, ["sid=second", "tok=t1"]),
        ("h1.test", 9, 7, ["sid=high-prio-sorts-first"]),
        ("h1.test", 5, 3, ["gone=; Max-Age=0"]),
        ("h2.test", 1, 1, ["a=1; Secure", "b=2"]),
        ("h3.test", 1, 1, []),  # sets nothing: filtered upstream
    ]
    seed_jar = {"old": "keep", "sid": "stale", "gone": "x"}

    eng = CrawlEngine.__new__(CrawlEngine)
    eng.fetcher = SimpleNamespace(enable_cookie=True)
    eng._cookie_store = {"h1.test": dict(seed_jar)}
    fetched = spark.createDataFrame(
        rows,
        "host string, priority int, seq int, set_cookies array<string>",
    )
    eng._harvest_cookies(fetched)

    # sequential reference: the pre-round-5 driver-side fold
    store = {"h1.test": dict(seed_jar)}
    for h, _p, _s, cookies in sorted(rows, key=lambda t: (-t[1], t[2])):
        if not cookies:
            continue
        jar = store.setdefault(h, {})
        for raw in cookies:
            merge_set_cookie(jar, raw)
    assert eng._cookie_store == store
    assert eng._cookie_store["h1.test"]["sid"] == "second"
    assert "gone" not in eng._cookie_store["h1.test"]


def test_fetch_robots_dim_live(spark, server):
    """Live robots bootstrap: the dim is built by fetching
    /robots.txt through the live fetcher; missing robots get the
    permissive default row."""
    from pholcus_spark.robots import fetch_robots_dim

    _reset(
        {
            "/robots.txt": {
                "body": (
                    b"User-agent: *\nDisallow: /private/\nCrawl-delay: 2\n"
                ),
                "content_type": "text/plain",
            }
        }
    )
    hosts = spark.createDataFrame(
        [(server,), ("127.0.0.1:9",)], "host string"
    )
    dim = fetch_robots_dim(
        spark, hosts, HttpFetcher(timeout_s=5, try_times=1)
    )
    rows = {r.host: r for r in dim.collect()}
    assert rows[server].disallow_prefixes == ["/private/"]
    assert rows[server].crawl_delay_ms == 2000
    # unreachable host -> permissive default
    assert rows["127.0.0.1:9"].disallow_prefixes == []
    assert rows["127.0.0.1:9"].crawl_delay_ms is None


# ---------------------------------------------------------------------------
# fetch_one's request loop via a scripted stub session
# ---------------------------------------------------------------------------


class _StubHeaders(dict):
    """Case-sensitive plain dict + get_all for repeated headers."""

    def __init__(self, items=(), repeats=None):
        super().__init__(items)
        self._repeats = repeats or {}

    def get_all(self, name):
        if name in self._repeats:
            return list(self._repeats[name])
        return [self[name]] if name in self else []


class _StubResponse:
    def __init__(self, status, headers=None, body=b"", repeats=None):
        self.status = status
        self.headers = _StubHeaders(headers or {}, repeats)
        self.body = body


class _StubSession:
    """Scripted transport: routes[(method, url)] is a response, a list
    of responses consumed per attempt, or an Exception instance (raised
    — the transport-failure path). Records every request it sees."""

    def __init__(self, routes):
        self.routes = {k: (list(v) if isinstance(v, list) else v)
                       for k, v in routes.items()}
        self.calls = []

    def request(self, method, url, data, headers, proxy):
        self.calls.append(
            {"method": method, "url": url, "data": data,
             "headers": dict(headers or {})}
        )
        r = self.routes[(method, url)]
        if isinstance(r, list):
            r = r.pop(0) if len(r) > 1 else r[0]
        if isinstance(r, Exception):
            raise r
        return r


def test_request_loop_retry_then_599_and_recovery():
    boom = ConnectionError("refused")
    s = _StubSession({("GET", "http://a.test/x"): boom})
    st, _, _ = fetch_one(
        "http://a.test/x", try_times=3, retry_pause_s=0.0, session=s)
    assert st == 599 and len(s.calls) == 3  # full retry budget spent
    # transient error then success
    s2 = _StubSession({("GET", "http://a.test/x"): [
        boom, _StubResponse(200, {"Content-Type": "text/plain"}, b"up")]})
    st, ct, body = fetch_one(
        "http://a.test/x", try_times=2, retry_pause_s=0.0, session=s2)
    assert (st, ct, body) == (200, "text/plain", b"up")


def test_request_loop_redirect_method_conversion():
    s = _StubSession({
        ("POST", "http://a.test/login"): _StubResponse(
            302, {"Location": "/home"}),
        ("GET", "http://a.test/home"): _StubResponse(200, {}, b"home"),
    })
    st, _, body = fetch_one(
        "http://a.test/login", "POST", "u=x", try_times=1, session=s)
    assert (st, body) == (200, b"home")
    # 302 re-issued as GET without the POST body (Go's http.Client)
    assert s.calls[1]["method"] == "GET" and s.calls[1]["data"] is None
    # 307 preserves method and body
    s7 = _StubSession({
        ("POST", "http://a.test/p"): _StubResponse(
            307, {"Location": "/q"}),
        ("POST", "http://a.test/q"): _StubResponse(200, {}, b"kept"),
    })
    st, _, body = fetch_one(
        "http://a.test/p", "POST", "k=v", try_times=1, session=s7)
    assert (st, body) == (200, b"kept")
    assert s7.calls[1]["data"] == b"k=v"
    assert "multipart" not in s7.calls[1]["headers"].get("Content-Type", "")


def test_request_loop_redirect_policies():
    routes = {
        ("GET", "http://a.test/r2"): _StubResponse(302, {"Location": "/r1"}),
        ("GET", "http://a.test/r1"): _StubResponse(302, {"Location": "/dst"}),
        ("GET", "http://a.test/dst"): _StubResponse(200, {}, b"end"),
    }
    # unlimited (0) clears the chain; forbidden (<0) stops at the 3xx;
    # bounded n: 1 hop insufficient, 2 hops clear — live-server parity
    assert fetch_one("http://a.test/r2", try_times=1,
                     session=_StubSession(routes))[0] == 200
    assert fetch_one("http://a.test/r2", try_times=1, redirect_times=-1,
                     session=_StubSession(routes))[0] == 302
    assert fetch_one("http://a.test/r2", try_times=1, redirect_times=1,
                     session=_StubSession(routes))[0] == 302
    assert fetch_one("http://a.test/r2", try_times=1, redirect_times=2,
                     session=_StubSession(routes))[0] == 200


def test_request_loop_post_m_encoding_and_head():
    from pholcus_spark.httpfetch import MULTIPART_BOUNDARY

    s = _StubSession({
        ("POST", "http://a.test/up"): _StubResponse(200, {}, b"ok"),
        ("HEAD", "http://a.test/h"): _StubResponse(
            200, {"Content-Type": "text/plain"}, b"never-read"),
    })
    fetch_one("http://a.test/up", "POST-M", "a=1&b=2", try_times=1,
              session=s)
    call = s.calls[0]
    assert call["headers"]["Content-Type"].startswith("multipart/form-data")
    assert f"--{MULTIPART_BOUNDARY}".encode() in call["data"]
    st, ct, body = fetch_one(
        "http://a.test/h", "HEAD", try_times=1, session=s)
    assert (st, body) == (200, b"")  # HEAD never reads a body


def test_request_loop_cookie_harvest_repeated_headers():
    """Repeated Set-Cookie via the get_all accessor; the session header
    goes out, harvested cookies apply to the next hop, and a cross-host
    redirect drops the Cookie header."""
    s = _StubSession({
        ("GET", "http://a.test/login"): _StubResponse(
            302, {"Location": "http://a.test/home", "Set-Cookie": "sid=1"},
            repeats={"Set-Cookie": ["sid=1", "lang=en"]}),
        ("GET", "http://a.test/home"): _StubResponse(
            302, {"Location": "http://evil.test/x"}),
        ("GET", "http://evil.test/x"): _StubResponse(200, {}, b"out"),
    })
    out: list = []
    st, _, _ = fetch_one(
        "http://a.test/login", try_times=1, cookie="pre=0",
        cookies_out=out, session=s)
    assert st == 200
    assert out == ["sid=1", "lang=en"]
    # hop 2 (same host) carries pre-existing + harvested cookies
    assert s.calls[1]["headers"]["Cookie"] == "pre=0; sid=1; lang=en"
    # hop 3 (cross-host) must NOT leak the session
    assert "Cookie" not in s.calls[2]["headers"]


# ---------------------------------------------------------------------------
# DNS cache (surf.go:80-135 semantics)
# ---------------------------------------------------------------------------


def test_dns_cache_resolves_once_and_serves_hits(server):
    from pholcus_spark.httpfetch import DnsCache

    _reset({"/ok": {"body": b"hello", "content_type": "text/plain"}})
    port = server.split(":")[1]
    dns = DnsCache()
    for _ in range(3):
        status, _, body = fetch_one(
            f"http://localhost:{port}/ok", try_times=1, dns=dns
        )
        assert status == 200 and body == b"hello"
    # one real resolution, the rest served from the cache
    assert dns.resolves == 1
    assert dns.hits == 2
    assert dns.query(f"localhost:{port}") == "127.0.0.1"


def test_dns_cache_evicts_on_dial_failure_then_recovers(server):
    """surf.go:122-126: a dial failure through a cached ip evicts the
    entry and fails THAT attempt; the retry loop's next attempt
    re-resolves and succeeds."""
    from pholcus_spark.httpfetch import DnsCache

    _reset({"/ok": {"body": b"back", "content_type": "text/plain"}})
    port = server.split(":")[1]
    dns = DnsCache()
    # poison the cache: nothing listens on 127.1.2.3
    dns.reg(f"localhost:{port}", "127.1.2.3")
    dns.resolves = 0
    status, _, body = fetch_one(
        f"http://localhost:{port}/ok",
        try_times=2, retry_pause_s=0.0, dns=dns,
    )
    assert status == 200 and body == b"back"
    assert dns.evictions == 1
    assert dns.query(f"localhost:{port}") == "127.0.0.1"


def test_session_builds_one_opener_per_proxy_across_threads():
    """A batch's pool threads share one session: concurrent first uses
    of a proxy route all get the one opener the session keeps."""
    import sys

    from pholcus_spark.httpfetch import _UrllibSession

    s = _UrllibSession(5.0)
    proxies = [f"http://127.0.0.1:{9000 + i}" for i in range(8)]
    got: list = []
    start = threading.Barrier(16, timeout=30)

    def worker():
        start.wait()
        got.extend((p, id(s._opener_for(p))) for p in proxies)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker) for _ in range(16)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=30)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert len(got) == 16 * len(proxies)
    assert {p: {i for q, i in got if q == p} for p in proxies} == {
        p: {id(s._openers[p])} for p in proxies
    }


def test_stdlib_fetcher_dns_cache_end_to_end(spark, server):
    """A wave of requests to one host fetches correctly through the
    session's DNS cache (always on)."""
    _reset({f"/d/{i}": {"body": f"b{i}".encode(),
                        "content_type": "text/plain"}
            for i in range(6)})
    port = server.split(":")[1]
    wave = spark.createDataFrame(
        [(f"http://localhost:{port}/d/{i}",) for i in range(6)],
        "url string",
    ).coalesce(1)
    fetched = HttpFetcher(try_times=1).fetch(wave)
    rows = {r.url[-1]: r for r in fetched.collect()}
    assert len(rows) == 6
    assert all(r.ok and r.status == 200 for r in rows.values())
    assert rows["3"].body == b"b3"


# ---------------------------------------------------------------------------
# author-set request headers (request.Request{Header:}, request.go:25)
# ---------------------------------------------------------------------------


def test_fetch_one_extra_headers_on_the_wire(server):
    """extra_headers reach the socket; precedence: extra User-Agent
    beats the ua= fallback (param.go:85-95 fills only a MISSING
    header); extra Cookie merges ahead of the session jar."""
    _reset({})
    _SiteHandler.hdr_echo_paths = {"/hecho"}
    status, _ct, body = fetch_one(
        f"http://{server}/hecho",
        try_times=1,
        ua="fallback-ua",
        cookie="s=jar",
        extra_headers={
            "X-Token": "t0k",
            "User-Agent": "custom-ua",
            "Cookie": "a=extra",
        },
    )
    assert status == 200
    got = dict(
        line.split(": ", 1) for line in body.decode().splitlines()
    )
    assert got["X-Token"] == "t0k"
    assert got["User-Agent"] == "custom-ua"
    assert got["Cookie"] == "a=extra; s=jar"


def test_fetch_one_lowercase_ua_not_doubled(server):
    """A differently-CASED author User-Agent still wins over the ua=
    fallback: the presence check is case-insensitive, so the wire never
    carries two UA headers (a plain setdefault('User-Agent') added a
    second one beside an author-set 'user-agent')."""
    _reset({})
    _SiteHandler.hdr_echo_paths = {"/hecho"}
    status, _ct, body = fetch_one(
        f"http://{server}/hecho",
        try_times=1,
        ua="fallback-ua",
        extra_headers={"user-agent": "custom-ua"},
    )
    assert status == 200
    lines = body.decode().splitlines()
    ua_lines = [l for l in lines if l.lower().startswith("user-agent:")]
    assert len(ua_lines) == 1
    assert ua_lines[0].split(": ", 1)[1] == "custom-ua"


def test_fetch_one_extra_headers_ua_fallback(server):
    """Without an extra User-Agent the ua= fallback still applies."""
    _reset({})
    _SiteHandler.hdr_echo_paths = {"/hecho"}
    status, _ct, body = fetch_one(
        f"http://{server}/hecho",
        try_times=1,
        ua="fallback-ua",
        extra_headers={"X-Token": "t1"},
    )
    assert status == 200
    got = dict(line.split(": ", 1) for line in body.decode().splitlines())
    assert got["User-Agent"] == "fallback-ua"
    assert got["X-Token"] == "t1"
    assert "Cookie" not in got


def test_stdlib_fetcher_hdr_column(spark, server):
    """The wave's engine-attached `hdr` JSON column is parsed per row
    and sent — a header-gated path answers 200 only for the row that
    carries the header."""
    _reset(
        {
            "/gated": {
                "status": 200,
                "content_type": "text/plain",
                "body": b"in",
            }
        }
    )
    _SiteHandler.header_gate = {"/gated": ("X-Auth", "k7")}
    wave = spark.createDataFrame(
        [
            (f"http://{server}/gated", "GET", "", '{"X-Auth":"k7"}'),
            (f"http://{server}/gated", "GET", "", ""),
        ],
        "url string, method string, post_data string, hdr string",
    )
    rows = (
        HttpFetcher(timeout_s=15.0, try_times=1)
        .fetch(wave)
        .select("hdr", "status", "ok")
        .collect()
    )
    by_hdr = {r.hdr: (r.status, r.ok) for r in rows}
    assert by_hdr['{"X-Auth":"k7"}'] == (200, True)
    assert by_hdr[""] == (403, False)


def test_headers_col_merge(spark):
    """fetch.headers_col: static spec headers overlaid by hdr: temps
    (dynamic wins), prefix stripped, empty merge → ''."""
    import json

    from pholcus_spark.fetch import headers_col

    df = spark.createDataFrame(
        [
            ({"hdr:X-Auth": "k7", "other": "x"},),
            ({"hdr:X-Static": "dyn"},),
            ({"plain": "1"},),
            (None,),
        ],
        "temp map<string,string>",
    )
    out = [
        json.loads(r.h) if r.h else None
        for r in df.select(
            headers_col((("X-Static", "s1"),)).alias("h")
        ).collect()
    ]
    assert out[0] == {"X-Static": "s1", "X-Auth": "k7"}
    assert out[1] == {"X-Static": "dyn"}
    assert out[2] == {"X-Static": "s1"}
    assert out[3] == {"X-Static": "s1"}
    # no static, no dynamic → '' (fetchers treat as absent)
    none = [
        r.h for r in df.select(headers_col(()).alias("h")).collect()
    ]
    assert none[2] == "" and none[3] == ""
