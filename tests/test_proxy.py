"""Proxy pool + UA assignment: unit tests for the pool parser / host
key / rotation algebra, live tests through REAL in-process forwarding
proxies (http.server receiving absolute-URI proxy-form requests), and a
full engine crawl that rotates proxies per superstep — mirroring the
reference's proxy aid (`app/aid/proxy/proxy.go`, `host.go`) and surfer
UA fill (`surfer/param.go:85-95`).
"""

from __future__ import annotations

import shutil
import tempfile
import threading
import time
import urllib.error
import urllib.request
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

import pytest

from pholcus_spark import fixtures, testkit
from pholcus_spark.httpfetch import HttpFetcher, fetch_one
from pholcus_spark.oracle import OracleConfig
from pholcus_spark.proxy import (
    USER_AGENTS,
    assign_proxy,
    assign_user_agent,
    build_proxy_dim,
    host_key,
    host_key_col,
    parse_proxy_list,
    probe_via_proxy,
)
from pholcus_spark.spiderspec import SpiderSpec

# ---------------------------------------------------------------------------
# live scaffolding: a recording target server + forwarding proxies
# ---------------------------------------------------------------------------

_HOP_HEADERS = {
    "host", "connection", "proxy-connection", "accept-encoding",
    "content-length",
}


class _TargetHandler(BaseHTTPRequestHandler):
    """Records (path, User-Agent, X-Forwarded-By) per request."""

    pages: dict[str, dict] = {}
    log: list[tuple[str, str, str]] = []

    def do_GET(self):
        type(self).log.append(
            (
                self.path,
                self.headers.get("User-Agent") or "",
                self.headers.get("X-Forwarded-By") or "",
            )
        )
        page = self.pages.get(self.path)
        if page is None:
            self.send_response(404)
            self.end_headers()
            return
        body = page.get("body") or b""
        self.send_response(page.get("status", 200))
        self.send_header("Content-Type", page.get("content_type", ""))
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def log_message(self, *a):
        pass


class _ForwardingProxy(BaseHTTPRequestHandler):
    """A minimal real HTTP proxy: the request line carries the absolute
    URI (proxy-form), which we fetch upstream — stamping
    ``X-Forwarded-By`` so the target can attest the route — and relay
    back. ``extra_delay`` simulates a slow proxy for latency-sort
    tests."""

    name = "proxy"
    extra_delay = 0.0

    def do_GET(self):
        if self.extra_delay:
            time.sleep(self.extra_delay)
        hdrs = {
            k: v
            for k, v in self.headers.items()
            if k.lower() not in _HOP_HEADERS
        }
        hdrs["X-Forwarded-By"] = self.name
        req = urllib.request.Request(self.path, headers=hdrs)
        try:
            with urllib.request.urlopen(req, timeout=10) as r:
                status, body = r.status, r.read()
                ctype = r.headers.get("Content-Type", "")
        except urllib.error.HTTPError as he:
            status, body = he.code, he.read() if he.fp else b""
            ctype = he.headers.get("Content-Type", "")
        self.send_response(status)
        if ctype:
            self.send_header("Content-Type", ctype)
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def log_message(self, *a):
        pass


def _serve(handler_cls):
    srv = ThreadingHTTPServer(("127.0.0.1", 0), handler_cls)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    return srv


@pytest.fixture(scope="module")
def target():
    srv = _serve(_TargetHandler)
    yield f"127.0.0.1:{srv.server_address[1]}"
    srv.shutdown()


@pytest.fixture(scope="module")
def proxies():
    """Two live forwarding proxies — p_fast and p_slow (+250 ms)."""
    fast = type("PFast", (_ForwardingProxy,), {"name": "p_fast"})
    slow = type(
        "PSlow", (_ForwardingProxy,), {"name": "p_slow", "extra_delay": 0.25}
    )
    s1, s2 = _serve(fast), _serve(slow)
    yield {
        "p_fast": f"http://127.0.0.1:{s1.server_address[1]}",
        "p_slow": f"http://127.0.0.1:{s2.server_address[1]}",
    }
    s1.shutdown()
    s2.shutdown()


def _reset(pages):
    _TargetHandler.pages = pages
    _TargetHandler.log = []


# ---------------------------------------------------------------------------
# pool parsing + host key
# ---------------------------------------------------------------------------


def test_parse_proxy_list():
    text = """
    # both of the reference loader's entry classes
    http://10.1.2.3:8080  https://user:pw@10.1.2.4:3128
    plain 10.1.2.5:9999 and url-type proxy.example.com:8000
    http://10.1.2.3:8080 (duplicate)
    garbage: not-a-proxy, nodots:80, trailing-colon:
    """
    assert parse_proxy_list(text) == [
        "http://10.1.2.3:8080",
        "https://user:pw@10.1.2.4:3128",
        "http://10.1.2.5:9999",
        "http://proxy.example.com:8000",
    ]
    assert parse_proxy_list("") == []


def test_host_key_python_and_column_parity(spark):
    cases = [
        "www.example.com",      # strip first label (>1 dot)
        "img.cdn.example.com",  # strip ONE label only
        "example.com",          # keep (1 dot)
        "localhost",            # keep (0 dots)
        # IPv4 literals key as themselves (deliberate divergence from
        # the dot-count rule: an IP has no registered domain, and
        # stripping the first octet would alias 10.1.2.3 with 99.1.2.3
        # into one pool)
        "127.0.0.1",
        "127.0.0.1:8080",
    ]
    expect = {
        "www.example.com": "example.com",
        "img.cdn.example.com": "cdn.example.com",
        "example.com": "example.com",
        "localhost": "localhost",
        "127.0.0.1": "127.0.0.1",
        "127.0.0.1:8080": "127.0.0.1:8080",
    }
    assert {h: host_key(h) for h in cases} == expect
    df = spark.createDataFrame([(h,) for h in cases], "host string")
    got = {
        r.host: r.hk
        for r in df.select("host", host_key_col("host").alias("hk")).collect()
    }
    assert got == expect


# ---------------------------------------------------------------------------
# probing + latency sort + rotation algebra
# ---------------------------------------------------------------------------


def test_probe_and_dim_latency_sort(spark, target, proxies):
    _reset({"/": {"body": b"root", "content_type": "text/plain"}})
    # direct sanity: the probe measures through the proxy
    assert probe_via_proxy(f"http://{target}/", proxies["p_fast"]) is not None
    dead = "http://127.0.0.1:1"  # connection refused
    hosts = spark.createDataFrame(
        [(target, "http")], "host string, scheme string"
    )
    dim = build_proxy_dim(
        spark,
        [proxies["p_slow"], dead, proxies["p_fast"]],
        hosts,
        timeout_s=5.0,
    )
    rows = sorted(dim.collect(), key=lambda r: r.rank)
    assert [r.proxy for r in rows] == [proxies["p_fast"], proxies["p_slow"]]
    assert all(r.n_proxies == 2 for r in rows)
    assert rows[0].latency_ms < rows[1].latency_ms
    # the probed latency gap reflects the slow proxy's +250 ms
    assert rows[1].latency_ms - rows[0].latency_ms > 100.0


def test_assign_proxy_rotation(spark):
    dim = spark.createDataFrame(
        [
            ("example.com", "http://p1:1", 10.0, 1, 2),
            ("example.com", "http://p2:1", 20.0, 2, 2),
            ("solo.net", "http://p3:1", 5.0, 1, 1),
        ],
        "host_key string, proxy string, latency_ms double, "
        "rank int, n_proxies int",
    )
    wave = spark.createDataFrame(
        [("www.example.com",), ("img.example.com",), ("solo.net",),
         ("nopool.org",)],
        "host string",
    )

    def picks(tick):
        return {
            r.host: r.proxy
            for r in assign_proxy(wave, dim, tick).collect()
        }

    assert picks(0) == {
        "www.example.com": "http://p1:1",
        "img.example.com": "http://p1:1",  # shared registered-domain pool
        "solo.net": "http://p3:1",
        "nopool.org": "",  # no usable proxy -> direct (GetOne None)
    }
    p1 = picks(1)
    assert p1["www.example.com"] == "http://p2:1"  # tick walks the list
    assert p1["solo.net"] == "http://p3:1"  # 1-proxy pool wraps
    assert picks(2)["www.example.com"] == "http://p1:1"  # mod wraps


def test_assign_user_agent_modes(spark):
    wave = spark.createDataFrame(
        [(f"k{i}",) for i in range(64)], "key string"
    )
    fixed = assign_user_agent(wave, "fixed").select("ua").collect()
    assert {r.ua for r in fixed} == {USER_AGENTS[0]}
    rot1 = {r.key: r.ua for r in assign_user_agent(wave, "rotate").collect()}
    rot2 = {r.key: r.ua for r in assign_user_agent(wave, "rotate").collect()}
    assert rot1 == rot2  # deterministic (hash, not RNG)
    assert set(rot1.values()) <= set(USER_AGENTS)
    assert len(set(rot1.values())) > 1  # actually rotates
    with pytest.raises(ValueError):
        assign_user_agent(wave, "surprise")


# ---------------------------------------------------------------------------
# live transport: proxy + UA reach the wire
# ---------------------------------------------------------------------------


def test_fetch_one_via_proxy_with_ua(target, proxies):
    _reset({"/page": {"body": b"via-proxy", "content_type": "text/plain"}})
    st, _ct, body = fetch_one(
        f"http://{target}/page", ua=USER_AGENTS[0], proxy=proxies["p_fast"]
    )
    assert (st, body) == (200, b"via-proxy")
    assert _TargetHandler.log == [("/page", USER_AGENTS[0], "p_fast")]
    # error statuses relay through the proxy too
    assert fetch_one(f"http://{target}/none", proxy=proxies["p_fast"])[0] == 404


def test_stdlib_fetcher_reads_proxy_and_ua_columns(spark, target, proxies):
    _reset({f"/d{i}": {"body": b"x", "content_type": "text/plain"}
            for i in range(4)})
    rows = [
        (f"http://{target}/d0", proxies["p_fast"], "UA-A"),
        (f"http://{target}/d1", proxies["p_slow"], "UA-B"),
        (f"http://{target}/d2", "", "UA-C"),  # direct
        (f"http://{target}/d3", None, None),  # null-safe
    ]
    wave = spark.createDataFrame(rows, "url string, proxy string, ua string")
    out = HttpFetcher(timeout_s=10.0, try_times=1).fetch(wave)
    assert [r.status for r in out.collect()] == [200] * 4
    seen = {p: (ua, via) for p, ua, via in _TargetHandler.log}
    assert seen["/d0"] == ("UA-A", "p_fast")
    assert seen["/d1"] == ("UA-B", "p_slow")
    assert seen["/d2"] == ("UA-C", "")
    assert seen["/d3"][1] == ""


# ---------------------------------------------------------------------------
# engine: per-superstep rotation + conformance
# ---------------------------------------------------------------------------


def _localize(corpus, netloc: str):
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


def test_engine_proxy_rotation_conformance(spark, target, proxies):
    """Full live crawl with a probed proxy dim + rotating UAs: results
    still match the oracle exactly, every request reached the target
    THROUGH a pool proxy, and successive supersteps rotate the pool."""
    corpus = _localize(
        fixtures.generate(
            fixtures.SiteSpec(
                n_hosts=1, list_pages=3, details_per_list=1,
                images_per_detail=1, flaky_rate=0.0, fail_404_rate=0.0,
            )
        ),
        target,
    )
    _reset({_path_of(p["url"]): p for p in corpus.pages})

    from pholcus_spark.catalog import SnapshotCatalog
    from pholcus_spark.engine import CrawlEngine, EngineConfig

    # pool key = the engine's portless host identity; probe_netloc
    # carries the sandbox port the probe must actually hit
    hosts = spark.createDataFrame(
        [(target.split(":")[0], "http", target)],
        "host string, scheme string, probe_netloc string",
    )
    dim = build_proxy_dim(
        spark, list(proxies.values()), hosts, timeout_s=5.0
    ).cache()
    assert dim.count() == 2
    _TargetHandler.log = []  # drop probe traffic from the assertions

    workdir = tempfile.mkdtemp(prefix="pholcus-proxy-")
    try:
        _p, _i, _t, _s, robots = fixtures.to_spark(spark, corpus)
        spec = SpiderSpec("site")
        catalog = SnapshotCatalog(workdir, spark)
        engine = CrawlEngine(
            spark, catalog,
            HttpFetcher(timeout_s=15.0, try_times=1),
            spec, robots,
            EngineConfig(wave_window_ms=6000, ua_mode="rotate"),
            proxy_dim=dim,
        )
        engine.seed(corpus.seeds)
        state = engine.run()
        assert state["stopped"]
        run = testkit.EngineRun(catalog, state, workdir)
        res = testkit.run_oracle(
            corpus, spec, OracleConfig(wave_window_ms=6000)
        )
        engine_seen = {r.key for r in run.df("url_seen").select("key").collect()}
        assert engine_seen == res.seen
        assert testkit.items_set_engine(run) == testkit.items_set_oracle(res)

        log = list(_TargetHandler.log)
        assert log, "no live traffic recorded"
        # every request went through a pool proxy with a pool UA
        assert {via for _, _, via in log} <= {"p_fast", "p_slow"}
        assert all(via for _, _, via in log)
        assert {ua for _, ua, _ in log} <= set(USER_AGENTS)
        # ≥2 supersteps (seed wave + children) -> the rotation visited
        # both proxies (tick mod 2 alternates)
        if state["superstep"] >= 2:
            assert {via for _, _, via in log} == {"p_fast", "p_slow"}
    finally:
        dim.unpersist()
        shutil.rmtree(workdir, ignore_errors=True)


def test_engine_proxy_builder_refresh_cadence(spark, target, proxies):
    """A CALLABLE proxy_dim is the UpdateTicker re-probe cycle
    (proxy.go:162-173): invoked at the first wave and again every
    proxy_refresh_every supersteps; 0 = build once."""
    corpus = _localize(
        fixtures.generate(
            fixtures.SiteSpec(
                n_hosts=1, list_pages=3, details_per_list=1,
                images_per_detail=1, flaky_rate=0.0, fail_404_rate=0.0,
            )
        ),
        target,
    )
    _reset({_path_of(p["url"]): p for p in corpus.pages})

    from pholcus_spark.catalog import SnapshotCatalog
    from pholcus_spark.engine import CrawlEngine, EngineConfig

    hosts = spark.createDataFrame(
        [(target.split(":")[0], "http", target)],
        "host string, scheme string, probe_netloc string",
    )
    dim = build_proxy_dim(
        spark, list(proxies.values()), hosts, timeout_s=5.0
    ).cache()
    assert dim.count() == 2
    calls: list[int] = []

    def builder(superstep: int):
        calls.append(superstep)
        return dim

    workdir = tempfile.mkdtemp(prefix="pholcus-proxyref-")
    try:
        _p, _i, _t, _s, robots = fixtures.to_spark(spark, corpus)
        spec = SpiderSpec("site")
        engine = CrawlEngine(
            spark, SnapshotCatalog(workdir, spark),
            HttpFetcher(timeout_s=15.0, try_times=1),
            spec, robots,
            EngineConfig(wave_window_ms=6000, proxy_refresh_every=2),
            proxy_dim=builder,
        )
        engine.seed(corpus.seeds)
        state = engine.run()
        assert state["stopped"]
        # supersteps are 1-based: the first wave (superstep 1) probes,
        # then every 2nd superstep after it (3, 5, ...)
        waves = state["superstep"]
        assert calls == [s for s in range(1, waves + 1) if (s - 1) % 2 == 0]
        # all traffic still went through the pool
        log = list(_TargetHandler.log)
        crawl_vias = {via for _, _, via in log if via}
        assert crawl_vias <= {"p_fast", "p_slow"}
    finally:
        dim.unpersist()
        shutil.rmtree(workdir, ignore_errors=True)
