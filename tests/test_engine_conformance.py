"""End-to-end conformance: Spark engine vs pure-Python oracle on the
same fixture corpus (FIXTURES.md §5-6). Asserts exact equality of
final URL-seen membership, the politeness-budgeted pull schedule
(superstep, wave_pos), item rows, fetched+validated image rows, and the
permanent-failure set — plus the north-rule image invariants
(PSNR ≥ 40 dB for lossy rows, bit-exact for lossless, caption + phash
equality).

All scenario engine runs are independent (own workdir + catalog), so a
module-scoped pool drives them CONCURRENTLY on the shared SparkSession
(engine driver loops are job-latency-bound; Spark schedules concurrent
jobs from multiple threads) — the suite pays ~max(scenario) wall time
instead of Σ(scenario).
"""

import os
from concurrent.futures import ThreadPoolExecutor

import pytest
from pyspark.sql import functions as F

from pholcus_spark import fixtures, testkit
from pholcus_spark.engine import EngineConfig
from pholcus_spark.oracle import OracleConfig
from pholcus_spark import sinks
from pholcus_spark.spiderspec import (
    ExtractRule,
    FileRule,
    LinkRule,
    SpiderSpec,
)


def run_pair(
    spark, corpus, spec, wave_window_ms=6000, bloom=True, per_spider_quota=None,
    body_store=False, try_times=1,
):
    run = testkit.run_engine(
        spark, corpus, spec,
        # bloom_rebuild_min=20: low enough that fixture runs rebuild the
        # sidecar several times (exercising the cogrouped probe path),
        # high enough not to rebuild on every flush; without bloom, a
        # threshold no fixture reaches keeps every dedup exact.
        # commit_every=2 halves the per-superstep flush cost while still
        # producing multiple durable snapshots per run
        EngineConfig(
            wave_window_ms=wave_window_ms,
            bloom_rebuild_min=20 if bloom else 10**18,
            commit_every=2,
            per_spider_quota=per_spider_quota,
            python_image_sink=body_store,
            record_order=True,  # golden-order table (conformance opt-in)
        ),
        body_store=body_store,
        try_times=try_times,
    )
    res = testkit.run_oracle(
        corpus,
        spec,
        OracleConfig(
            wave_window_ms=wave_window_ms,
            per_spider_quota=per_spider_quota,
            try_times=try_times,
        ),
    )
    return run, res


def check_conformance(run, res):
    # URL-seen membership — exact set equality
    seen_df = run.df("url_seen")
    engine_seen = (
        {r.key for r in seen_df.select("key").collect()} if seen_df else set()
    )
    assert engine_seen == res.seen
    # pull schedule
    assert testkit.order_tuples_engine(run) == testkit.order_tuples_oracle(res)
    # items
    assert testkit.items_set_engine(run) == testkit.items_set_oracle(res)
    # images fetched
    img_df = run.df("images")
    engine_imgs = (
        {(r.image_id, r.caption) for r in img_df.collect()} if img_df else set()
    )
    assert engine_imgs == {(i["image_id"], i["caption"]) for i in res.images}
    # permanent failures
    ff = run.df("failures_final")
    engine_ff = sorted(r.key for r in ff.collect()) if ff else []
    assert engine_ff == sorted(res.failed_final)
    # metrics account for every pulled request
    mdf = run.df("metrics")
    assert mdf.agg(F.sum("wave_size")).first()[0] == len(res.order)


# ---------------------------------------------------------------------------
# scenario pool
# ---------------------------------------------------------------------------

_DSL_RULE = ExtractRule(
    rule="list",
    item_pattern=r'<a href="(?P<href>[^"]*)">(?P<anchor_text>[^<]*)</a>',
    fields=("href", "anchor_text"),
)

# the goquery-selector authoring surface (avatar.go:92-93 shape):
# one item per <figure>, img src via Attr, caption via Text
_CSS_RULE = ExtractRule(
    rule="detail",
    kind="css",
    item_pattern="figure",
    fields=("img_src", "cap"),
    field_css=(("img_src", "img@src"), ("cap", "p.caption@text")),
)


# rule-authored Temp carry, the shunfenghaitao shape: the category rule
# extracts (goodsType, link) per card, AddQueues the link with
# Temp {goodsType} (carry_fields); the list rule extracts (name, price)
# and re-emits goodsType from the request temp (temp_fields)
_TEMP_CARRY_SPIDER = SpiderSpec(
    "sfht",
    link_rules=(
        LinkRule("/cats", "类别", 0),
        LinkRule("/g/", "商品列表", 1),
        LinkRule("/d/", "商品详情", 2),
    ),
    item_rules=(),
    image_rule="下载文件",
    extract_rules=(
        ExtractRule(
            rule="类别",
            kind="css",
            item_pattern=".cat",
            fields=("goodsType", "link"),
            field_css=(("goodsType", "span.t@text"), ("link", "a@href")),
            link_fields=("link",),
            carry_fields=("goodsType",),
        ),
        # middle hop RE-CARRIES the inherited temp to its own children
        # (shunfenghaitao.go:75 `Temp: {"goodsType":
        # ctx.GetTemp("goodsType")}`): temp_fields merges it into the
        # item BEFORE carry_fields reads it back out
        ExtractRule(
            rule="商品列表",
            kind="css",
            item_pattern=".goods",
            fields=("name", "price", "goodsType", "dlink"),
            field_css=(
                ("name", "p.n@text"),
                ("price", "em@text"),
                ("dlink", "a.d@href"),
            ),
            temp_fields=("goodsType",),
            link_fields=("dlink",),
            carry_fields=("goodsType",),
        ),
        ExtractRule(
            rule="商品详情",
            kind="css",
            item_pattern="body",
            fields=("标题", "goodsType"),
            field_css=(("标题", "h1@text"),),
            temp_fields=("goodsType",),
        ),
    ),
)


def _temp_carry_corpus() -> fixtures.Corpus:
    host = "sfht.test"
    cats = ["母婴", "美妆", "数码"]
    pages = [
        {
            "url": f"http://{host}/cats",
            "host": host,
            "depth": 0,
            "status": 200,
            "flaky": False,
            "content_type": "text/html; charset=utf-8",
            "body": (
                "<html><body>"
                + "".join(
                    f'<div class="cat"><span class="t">{c}</span>'
                    f'<a href="/g/{i}">go</a></div>'
                    for i, c in enumerate(cats)
                )
                + "</body></html>"
            ).encode(),
            "out_links": [],
            "image_refs": [],
        }
    ]
    for i, c in enumerate(cats):
        pages.append(
            {
                "url": f"http://{host}/g/{i}",
                "host": host,
                "depth": 1,
                "status": 200,
                "flaky": False,
                "content_type": "text/html; charset=utf-8",
                "body": (
                    "<html><body>"
                    + "".join(
                        f'<div class="goods"><p class="n">{c}-g{g}</p>'
                        f"<em>{(i + 1) * 10 + g}.5</em>"
                        f'<a class="d" href="/d/{i}-{g}">详情</a></div>'
                        for g in range(2)
                    )
                    + "</body></html>"
                ).encode(),
                "out_links": [],
                "image_refs": [],
            }
        )
        for g in range(2):
            pages.append(
                {
                    "url": f"http://{host}/d/{i}-{g}",
                    "host": host,
                    "depth": 2,
                    "status": 200,
                    "flaky": False,
                    "content_type": "text/html; charset=utf-8",
                    "body": (
                        f"<html><body><h1>{c}-g{g} 详情页</h1></body></html>"
                    ).encode(),
                    "out_links": [],
                    "image_refs": [],
                }
            )
    seeds = [
        {"spider": "sfht", "url": f"http://{host}/cats", "rule": "类别",
         "priority": 0}
    ]
    robots = [{"host": host, "disallow_prefixes": [], "crawl_delay_ms": None}]
    return fixtures.Corpus(
        pages=pages, images=[], images_truth=[], seeds=seeds, robots=robots
    )


_HEADERS_SPIDER = SpiderSpec(
    "site",
    # spider-static request header (the constant request.Header set on
    # every AddQueue in avatar.go/alibaba.go)
    headers=(("X-Static", "s1"),),
)


def _headers_corpus() -> fixtures.Corpus:
    """Header-walled site: /d/static needs the spider-static header,
    /d/dynamic needs a per-request temp-sourced one (weibo_fans.go:62
    keyin-sourced Cookie shape), /d/override needs the DYNAMIC value
    where a static same-named header also exists (dynamic wins),
    /d/walled demands a header nobody sends → permanent 403 failure."""
    host = "hw.test"

    def page(path, body, require_header=None, out_links=()):
        return {
            "url": f"http://{host}{path}",
            "host": host,
            "depth": 0,
            "status": 200,
            "flaky": False,
            "content_type": "text/html; charset=utf-8",
            "body": body.encode(),
            "out_links": list(out_links),
            "image_refs": [],
            "require_header": require_header,
        }

    pages = [
        page(
            "/p/open",
            '<html><body><a href="/d/static">s</a>'
            '<a href="/d/walled">w</a></body></html>',
            out_links=[
                f"http://{host}/d/static",
                f"http://{host}/d/walled",
            ],
        ),
        page("/d/static", "<html><body>static ok</body></html>",
             "X-Static: s1"),
        page("/d/dynamic", "<html><body>dynamic ok</body></html>",
             "X-Auth: k7"),
        page("/d/override", "<html><body>override ok</body></html>",
             "X-Static: dyn-wins"),
        page("/d/walled", "<html><body>never</body></html>",
             "X-Never: x"),
    ]
    seeds = [
        {"spider": "site", "url": f"http://{host}/p/open", "rule": "list",
         "priority": 0},
        {"spider": "site", "url": f"http://{host}/d/dynamic",
         "rule": "detail", "priority": 0,
         "temp": {"hdr:X-Auth": "k7"}},
        {"spider": "site", "url": f"http://{host}/d/override",
         "rule": "detail", "priority": 0,
         "temp": {"hdr:X-Static": "dyn-wins"}},
    ]
    robots = [{"host": host, "disallow_prefixes": [], "crawl_delay_ms": None}]
    return fixtures.Corpus(
        pages=pages, images=[], images_truth=[], seeds=seeds, robots=robots
    )


def _build_scenarios() -> dict[str, dict]:
    """name -> run_pair kwargs (corpus generation is cheap and serial)."""
    clean = dict(flaky_rate=0.0, fail_404_rate=0.0)
    scenarios: dict[str, dict] = {}

    scenarios["t1"] = dict(
        corpus=fixtures.generate(fixtures.t1_spec()), spec=SpiderSpec("site")
    )
    scenarios["nobloom"] = dict(
        corpus=fixtures.generate(fixtures.SiteSpec(n_hosts=2, list_pages=7)),
        spec=SpiderSpec("site"),
        bloom=False,
    )
    scenarios["politeness"] = dict(
        corpus=fixtures.generate(
            fixtures.SiteSpec(
                n_hosts=2, list_pages=5, details_per_list=1, images_per_detail=1,
                crawl_delay_ms={"h000.test": 750, "h001.test": 1500}, **clean,
            )
        ),
        spec=SpiderSpec("site"),
        wave_window_ms=1500,
    )
    scenarios["limit"] = dict(
        corpus=fixtures.generate(fixtures.t1_spec()),
        spec=SpiderSpec("site", limit=25),
    )
    scenarios["robots"] = dict(
        corpus=fixtures.generate(
            fixtures.SiteSpec(
                n_hosts=2, list_pages=7,
                robots_disallow={"h000.test": ["/d/"], "h001.test": ["/p/3"]},
                # RFC 9309 longest-match: /d/3 carves detail pages of
                # list 3 back out of h000's /d/ disallow
                robots_allow={"h000.test": ["/d/3"]},
                **clean,
            )
        ),
        spec=SpiderSpec("site"),
    )
    scenarios["reloadable"] = dict(
        corpus=fixtures.generate(
            fixtures.SiteSpec(n_hosts=1, list_pages=7, **clean)
        ),
        spec=SpiderSpec(
            "site", reloadable_urls=frozenset(["http://h000.test/p/0"])
        ),
    )
    scenarios["dsl"] = dict(
        corpus=fixtures.generate(
            fixtures.SiteSpec(n_hosts=2, list_pages=5, **clean)
        ),
        spec=SpiderSpec("site", extract_rules=(_DSL_RULE,)),
    )
    scenarios["css"] = dict(
        corpus=fixtures.generate(
            fixtures.SiteSpec(n_hosts=2, list_pages=5, **clean)
        ),
        spec=SpiderSpec(
            "site",
            item_rules=(),  # css rule replaces the built-in figure items
            extract_rules=(_CSS_RULE,),
        ),
    )
    # the ported qq_avatar sample as a conformance scenario: css
    # selectors + link_fields (AddQueue from rule data) drive the whole
    # crawl — children come only from extracted srcs
    import sys as _sys

    if "samples" not in _sys.path:
        _sys.path.insert(0, "samples")
    from avatar_css_spider import AVATAR_SPIDER, build_corpus as _avatar_corpus

    scenarios["avatar"] = dict(corpus=_avatar_corpus(), spec=AVATAR_SPIDER)
    # the ported miyabaobei sample: Aid-loop pagination — the page
    # count is EXTRACTED (via @eq(-2)/@count) and every list page
    # request is PaginateRule-generated (no hrefs in the corpus at all)
    from miya_paginate_spider import MIYA_SPIDER, build_corpus as _miya_corpus

    scenarios["paginate"] = dict(corpus=_miya_corpus(), spec=MIYA_SPIDER)
    # rule-authored Temp carry (shunfenghaitao.go:60,75): category pages
    # AddQueue child lists with Temp {goodsType}; the child rule outputs
    # items that pull goodsType back out of the request temp
    scenarios["temp_carry"] = dict(
        corpus=_temp_carry_corpus(), spec=_TEMP_CARRY_SPIDER
    )
    # author-set request headers (request.Request{Header:}): static
    # spec.headers + dynamic hdr: temps against header-walled pages
    scenarios["headers"] = dict(
        corpus=_headers_corpus(), spec=_HEADERS_SPIDER
    )
    # field_transforms (fang_resell_list.go:74-135): the
    # extract-then-string-munge ParseFunc shape — Children().Eq via
    # `> *@eq(n)`, one projection split into two columns, Fields/Split
    # guard branches, unit-suffix strips
    from fang_css_spider import FANG_SPIDER, build_corpus as _fang_corpus

    scenarios["fang_transforms"] = dict(
        corpus=_fang_corpus(), spec=FANG_SPIDER
    )
    scenarios["post"] = dict(
        corpus=fixtures.generate(
            fixtures.SiteSpec(n_hosts=2, list_pages=5, **clean)
        ),
        spec=SpiderSpec(
            "site",
            link_rules=(
                LinkRule("/p/", "list", 0),
                LinkRule("/d/", "detail", 1, method="POST", post_data="view=full"),
                LinkRule("/img/", "image", 2),
            ),
        ),
    )
    scenarios["postm"] = dict(
        corpus=fixtures.generate(
            fixtures.SiteSpec(n_hosts=1, list_pages=4, **clean)
        ),
        spec=SpiderSpec(
            "site",
            link_rules=(
                LinkRule("/p/", "list", 0),
                # POST-M: multipart encoding (surfer/param.go:61-84);
                # method is part of the dedup key like POST
                LinkRule("/d/", "detail", 1, method="POST-M",
                         post_data="a=1&b=two"),
                # HEAD routing rides the frontier the same way
                LinkRule("/img/", "image", 2, method="HEAD"),
            ),
        ),
    )
    fair_corpus = fixtures.generate(
        fixtures.SiteSpec(
            n_hosts=2, list_pages=4, details_per_list=1, images_per_detail=1,
            **clean,
        )
    )
    fair_corpus.seeds = [
        {**s, "spider": f"s{i}"} for i, s in enumerate(fair_corpus.seeds)
    ]
    scenarios["fair_share"] = dict(
        corpus=fair_corpus, spec=SpiderSpec("site"), per_spider_quota=2
    )
    tt_corpus = fixtures.generate(
        fixtures.SiteSpec(n_hosts=1, list_pages=5, **clean)
    )
    fail_map = {
        "http://h000.test/p/1": 2,
        "http://h000.test/p/2": 4,
        "http://h000.test/p/3": 7,
    }
    for p in tt_corpus.pages:
        if p["url"] in fail_map:
            p["fail_attempts"] = fail_map[p["url"]]
    scenarios["try_times"] = dict(
        corpus=tt_corpus, spec=SpiderSpec("site"), try_times=3
    )
    scenarios["body_store"] = dict(
        corpus=fixtures.generate(
            fixtures.SiteSpec(n_hosts=2, list_pages=5, **clean)
        ),
        # include a user ExtractRule so the fused read+parse kernel's
        # DSL path is pinned by the oracle too
        spec=SpiderSpec("site", extract_rules=(_DSL_RULE,)),
        body_store=True,
    )
    return scenarios


@pytest.fixture(scope="module")
def runs(spark):
    scenarios = _build_scenarios()

    def drive(item):
        name, kw = item
        corpus = kw.pop("corpus")
        spec = kw.pop("spec")
        run, res = run_pair(spark, corpus, spec, **kw)
        return name, (corpus, run, res)

    with ThreadPoolExecutor(max_workers=6) as ex:
        out = dict(ex.map(drive, scenarios.items()))
    yield out
    for _corpus, run, _res in out.values():
        run.cleanup()


# ---------------------------------------------------------------------------
# assertions (one test per scenario, same coverage as before)
# ---------------------------------------------------------------------------


def test_t1_full_conformance(runs):
    _, run, res = runs["t1"]
    check_conformance(run, res)


def test_t1_conformance_without_bloom(runs):
    _, run, res = runs["nobloom"]
    check_conformance(run, res)
    # no sidecar from start to finish: every dedup was the exact join
    assert not os.path.exists(os.path.join(run.workdir, "bloom"))


def test_politeness_budget_conformance(runs):
    # strict budgets: delay 750ms/1500ms, window 1500ms → 2/host resp. 1/host
    _, run, res = runs["politeness"]
    check_conformance(run, res)
    per_step_host = {}
    for o in res.order:
        host = o["url"].split("/")[2]
        k = (o["superstep"], host)
        per_step_host[k] = per_step_host.get(k, 0) + 1
    assert all(
        n <= (2 if h == "h000.test" else 1) for (s, h), n in per_step_host.items()
    )


def test_limit_guard_conformance(runs):
    _, run, res = runs["limit"]
    check_conformance(run, res)


def test_robots_disallow_conformance(runs):
    _, run, res = runs["robots"]
    check_conformance(run, res)
    h000_details = [
        o["url"]
        for o in res.order
        if o["url"].startswith("http://h000") and "/d/" in o["url"]
    ]
    # /d/ disallowed EXCEPT the /d/3 Allow carve-out (longest match)
    assert h000_details  # the carve-out is actually exercised
    assert all(u.startswith("http://h000.test/d/3") for u in h000_details)
    assert res.dropped_robots > 0


def test_reloadable_conformance(runs):
    # the home page is reloadable: re-linked from every list page
    _, run, res = runs["reloadable"]
    check_conformance(run, res)
    fetches = [o for o in res.order if o["url"] == "http://h000.test/p/0"]
    assert len(fetches) > 1  # dedup opt-out exercised


def test_extract_rule_dsl_conformance(runs):
    """A user-authored spider shape (the ParseFunc surface): anchors on
    list pages become (href, anchor_text) items — a shape the built-in
    figure extraction never emits. Engine items == oracle items over
    the full data map."""
    _, run, res = runs["dsl"]
    check_conformance(run, res)
    dsl_items = [i for i in res.items if "href" in i["data"]]
    assert len(dsl_items) > 0
    assert any(i["data"]["anchor_text"].startswith("detail") for i in dsl_items)


def test_avatar_link_fields_conformance(runs):
    """qq_avatar port (avatar.go:86-108): every image request originates
    from a link_fields-extracted src (AddQueue from rule data) — the
    schedule, items, and image rows match the oracle exactly."""
    _, run, res = runs["avatar"]
    check_conformance(run, res)
    assert len(res.images) == 6
    assert sum(1 for o in res.order if "/img/" in o["url"]) == 6


def test_paginate_rule_conformance(runs):
    """miyabaobei port (miyabaobei.go:82-135): totalPage extracted from
    the pager via @eq(-2) (urls.Eq(urls.Length()-2).Text()), pages
    2..total generated by PaginateRule (the ctx.Aid loop) — schedule,
    url_seen and items match the oracle exactly; every non-seed fetch
    is pagination-generated."""
    import miya_paginate_spider as miya  # samples/ on sys.path via runs

    _, run, res = runs["paginate"]
    check_conformance(run, res)
    # all pages crawled exactly once: seed + TOTAL_PAGES-1 generated
    assert len(res.order) == miya.TOTAL_PAGES
    assert sorted(o["url"] for o in res.order) == sorted(
        f"http://{miya.HOST}/cat?page={p}"
        for p in range(1, miya.TOTAL_PAGES + 1)
    )
    # the pager probe item carries the extracted count and Length()
    pager_items = [i for i in res.items if "total_pages" in i["data"]]
    assert len(pager_items) == 1
    assert pager_items[0]["data"]["total_pages"] == str(miya.TOTAL_PAGES)
    assert pager_items[0]["data"]["n_links"] == str(miya.TOTAL_PAGES + 1)
    # goods items from every page (page 1 re-parsed under the list rule
    # shape: ctx.Parse("商品列表"))
    goods = [i for i in res.items if "price" in i["data"]]
    assert len(goods) == miya.TOTAL_PAGES * miya.GOODS_PER_PAGE


def test_temp_carry_conformance(runs):
    """carry_fields/temp_fields round-trip (the shunfenghaitao.go:60,75
    AddQueue-Temp → GetTemp-Output idiom): category items AddQueue list
    pages carrying goodsType; every list item re-emits the carried
    value — engine (JVM carry join + map merge) == oracle exactly."""
    _, run, res = runs["temp_carry"]
    check_conformance(run, res)
    goods = [i for i in res.items if "price" in i["data"]]
    assert len(goods) == 6
    # every goods item carries the category it was enqueued under
    for it in goods:
        assert it["data"]["goodsType"] in ("母婴", "美妆", "数码")
        assert it["data"]["name"].startswith(it["data"]["goodsType"] + "-")
    # MULTI-HOP: the list rule re-carries the inherited temp to its
    # detail children (temp_fields merge happens before carry_fields
    # reads it) — detail items two hops from the origin still carry it
    details = [i for i in res.items if "标题" in i["data"]]
    assert len(details) == 6
    for it in details:
        assert it["data"]["goodsType"] in ("母婴", "美妆", "数码")
        assert it["data"]["标题"].startswith(it["data"]["goodsType"] + "-")


def test_field_transforms_conformance(runs):
    """field_transforms (the fang_resell_list.go:74-135 port): engine
    (task-side compiled closures in the fused parse) == oracle
    (independent op-tuple interpreter), and both equal hand-derived
    expectations — incl. the split-one-projection-into-two-columns
    idiom (address/business), the len(Fields)==4 guard branches, and
    `.Children().Eq(n)` as `> *@eq(n)`."""
    _, run, res = runs["fang_transforms"]
    check_conformance(run, res)
    items = sorted(
        (i["data"] for i in res.items if i["data"].get("communityName")),
        key=lambda d: (d["communityName"], d["remoteId"]),
    )
    # 3 houses × 2 listing pages
    assert len(items) == 6
    by_name = {d["communityName"]: d for d in items}
    full = by_name["雅居乐花园"]
    assert full == {
        "communityName": "雅居乐花园", "totalFloor": "24", "rooms": "3",
        "halls": "2", "buildTime": "2008", "address": "未来路",
        "direction": "南", "area": "89", "price": "95",
        "unitPrice": "10674", "locationType": "高层",
        "remoteId": "94028391", "business": "金水",
    }
    # degenerate room line + no "-" in address + missing href: every
    # guard takes its mismatch branch (keep for address, empty else)
    degen = by_name["绿城小区"]
    assert degen["address"] == "郑东新区" and degen["business"] == ""
    assert degen["rooms"] == "" and degen["totalFloor"] == ""
    assert degen["remoteId"] == "" and degen["area"] == "260"


def test_css_extract_rule_conformance(runs):
    """kind='css' ExtractRule (the goquery Find/Attr/Text authoring
    surface every reference sample uses, avatar.go:92-93): one item per
    <figure> on detail pages, img src + caption text via sub-selector
    projections. Engine (tree-based css.py) == oracle (single-pass
    SAX matcher) over the full data map."""
    _, run, res = runs["css"]
    check_conformance(run, res)
    css_items = [i for i in res.items if "img_src" in i["data"]]
    assert len(css_items) > 0
    assert all(i["data"]["img_src"] for i in css_items)
    assert any(i["data"]["cap"] for i in css_items)


def test_post_method_conformance(runs):
    """POST routing: detail pages fetched via POST — the method is part
    of the dedup key (request.go:139-145) and rides the frontier."""
    _, run, res = runs["post"]
    check_conformance(run, res)
    assert any("/d/" in o["url"] for o in res.order)


def test_post_multipart_head_conformance(runs):
    """POST-M and HEAD routing (surfer/param.go:61-84): both methods
    ride the frontier, join the dedup key, and the schedule matches the
    oracle exactly. The wire encodings themselves are pinned by
    tests/test_httpfetch.py against a live server."""
    _, run, res = runs["postm"]
    check_conformance(run, res)
    # the oracle pulled detail pages (routed POST-M) and images (HEAD);
    # key equality in check_conformance pins that the engine derived the
    # SAME method-qualified request keys (request_key hashes the method)
    assert any("/d/" in o["url"] for o in res.order)
    assert any("/img/" in o["url"] for o in res.order)


def test_per_spider_fair_share_conformance(runs):
    """Two spiders sharing the engine: the per-spider wave quota binds
    and the schedule still matches the oracle exactly
    (scheduler.go:92-99 avgRes fair share)."""
    _, run, res = runs["fair_share"]
    check_conformance(run, res)
    per_step_spider = {}
    for o in res.order:
        k = (o["superstep"], o["spider"])
        per_step_spider[k] = per_step_spider.get(k, 0) + 1
    assert all(n <= 2 for n in per_step_spider.values())
    assert len({sp for _, sp in per_step_spider}) == 2
    assert max(per_step_spider.values()) == 2  # the quota actually binds


def test_try_times_in_fetch_retry_conformance(runs):
    """In-fetch bounded retry (TryTimes=3, surf.go:158-197): a page
    failing 2 attempts succeeds inside its first fetch (no requeue);
    one failing 4 attempts needs the single matrix requeue (3+3
    cumulative attempts); one failing 7 exhausts both fetches and lands
    in the permanent failure store. Engine == oracle throughout."""
    _, run, res = runs["try_times"]
    check_conformance(run, res)
    pulls = {}
    for o in res.order:
        pulls[o["url"]] = pulls.get(o["url"], 0) + 1
    assert pulls["http://h000.test/p/1"] == 1  # retried inside the fetch
    assert pulls["http://h000.test/p/2"] == 2  # needed the matrix requeue
    assert pulls["http://h000.test/p/3"] == 2  # requeued once, then gave up
    assert len(res.failed_final) == 1  # only the 7-attempt page is permanent


def test_image_invariants_psnr_caption_phash(spark, runs):
    corpus, run, _res = runs["t1"]
    from pholcus_spark import fixtures as fx
    from pholcus_spark.validate import psnr_vs_truth_udf

    _, images_fixture, truth, _, _ = fx.to_spark(spark, corpus)
    out = run.df("images")
    assert out.where(~F.col("valid")).count() == 0
    joined = (
        out.alias("o")
        .join(images_fixture.alias("f"), "image_id")
        .join(truth, "image_id")
    )
    n = joined.count()
    assert n == out.count()  # every crawled image exists in the fixture
    checked = joined.select(
        "image_id",
        (F.col("o.caption") == F.col("f.caption")).alias("caption_eq"),
        (F.col("o.phash") == F.col("f.phash")).alias("phash_eq"),
        (F.col("o.w") == F.col("f.w")).alias("w_eq"),
        (F.col("o.h") == F.col("f.h")).alias("h_eq"),
        F.col("lossy"),
        psnr_vs_truth_udf(F.col("o.bytes"), F.col("o.fmt"), F.col("orig_png")).alias("psnr"),
        (F.col("o.bytes") == F.col("f.bytes")).alias("bytes_eq"),
    ).collect()
    for r in checked:
        assert r.caption_eq and r.phash_eq and r.w_eq and r.h_eq, r.image_id
        if r.lossy:
            assert 40.0 <= r.psnr < 1e9, (r.image_id, r.psnr)
        else:
            assert r.bytes_eq and r.psnr == pytest.approx(1e9), r.image_id


def test_body_store_python_sink_conformance(spark, runs):
    """StoreFetcher + python_image_sink: bodies are read from the
    bucketed body store by python tasks and the images table is written
    by those same tasks (catalog adopts the files at commit). Full
    conformance vs the oracle must hold, and the adopted images table
    must be byte-identical to the fixture blobs — the python-written
    parquet is the same table, not a near-copy."""
    corpus, run, res = runs["body_store"]
    check_conformance(run, res)
    # re-open the committed catalog: adopted dirs must read back as
    # one schema-consistent table with valid rows and real bytes
    out = run.df("images")
    assert out is not None and out.count() == len(res.images)
    assert out.where(~F.col("valid")).count() == 0
    from pholcus_spark import fixtures as fx

    _, images_fixture, _, _, _ = fx.to_spark(spark, corpus)
    joined = out.alias("o").join(images_fixture.alias("f"), "image_id")
    assert joined.where(F.col("o.bytes") != F.col("f.bytes")).count() == 0
    assert joined.where(F.col("o.phash") != F.col("f.phash")).count() == 0


def test_seed_range_distributed_aid_loop(spark):
    """Aid-loop page-range seeding (spider.go AidFunc loop): a
    spark.range-generated seed frame must crawl identically to the same
    seeds pushed as an explicit list (which the oracle models)."""
    import shutil
    import tempfile

    from pholcus_spark.catalog import SnapshotCatalog
    from pholcus_spark.engine import CrawlEngine
    from pholcus_spark.fetch import FixtureFetcher

    corpus = fixtures.generate(
        fixtures.SiteSpec(n_hosts=1, list_pages=5, flaky_rate=0.0, fail_404_rate=0.0)
    )
    pages, _i, _t, _s, robots = fixtures.to_spark(spark, corpus)
    spec = SpiderSpec("site")
    workdir = tempfile.mkdtemp(prefix="pholcus-range-")
    try:
        eng = CrawlEngine(
            spark, SnapshotCatalog(workdir, spark), FixtureFetcher(pages),
            spec, robots,
            EngineConfig(wave_window_ms=6000, commit_every=2, record_order=True),
        )
        eng.seed_range("http://h000.test/p/%d", 0, 3, "list", "site")
        eng.run()
        run = testkit.EngineRun(
            catalog=eng.catalog, state=eng._state, workdir=workdir
        )
        res = testkit.run_oracle(
            _corpus_with_seeds(
                corpus,
                [
                    {"spider": "site", "url": f"http://h000.test/p/{i}",
                     "rule": "list", "priority": 0}
                    for i in range(3)
                ],
            ),
            spec,
            OracleConfig(wave_window_ms=6000),
        )
        check_conformance(run, res)
        assert len(res.seen) > 3  # the range actually expanded the crawl
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


def _corpus_with_seeds(corpus, seeds):
    import copy

    c = copy.copy(corpus)
    c.seeds = seeds
    return c


def test_malformed_seed_drops_without_aborting(spark):
    """A seed whose URL does not canonicalize (out-of-range port, bad
    IPv6 bracket) drops like a malformed href; the valid seeds around
    it crawl exactly as in the oracle, and nothing raises."""
    corpus = fixtures.generate(
        fixtures.SiteSpec(
            n_hosts=2, list_pages=2, flaky_rate=0.0, fail_404_rate=0.0
        )
    )
    bad = [
        dict(corpus.seeds[0], url=url)
        for url in ("http://h.test:99999/", "http://[bad/")
    ]
    assert len(corpus.seeds) == 2
    corpus = _corpus_with_seeds(
        corpus, [corpus.seeds[0], *bad, corpus.seeds[1]]
    )
    run, res = run_pair(spark, corpus, SpiderSpec("site"))
    try:
        check_conformance(run, res)
        seeded = {o["url"] for o in res.order if o["superstep"] == 1}
        assert seeded == {"http://h000.test/p/0", "http://h001.test/p/0"}
    finally:
        run.cleanup()


def test_json_extract_rule_conformance(spark):
    """kind='json' ExtractRule (API-page crawling — reference rules
    json.Unmarshal page bodies, taobao.go:127): a JSON endpoint added
    to the corpus yields items via the dot-path rule, identically in
    engine and oracle (incl. non-string stringification)."""
    import json

    corpus = fixtures.generate(
        fixtures.SiteSpec(n_hosts=1, list_pages=3, flaky_rate=0.0, fail_404_rate=0.0)
    )
    api_body = json.dumps(
        {
            "data": {
                "items": [
                    {"sku": "A-1", "price": 12.5, "tags": ["x", "y"]},
                    {"sku": "B-2", "price": 3},
                    {"sku": "C-3"},
                ]
            }
        }
    ).encode()
    corpus.pages.append(
        {
            "url": "http://h000.test/api/items",
            "host": "h000.test",
            "depth": 0,
            "status": 200,
            "flaky": False,
            "fail_attempts": 0,
            "content_type": "application/json",
            "body": api_body,
            "out_links": [],
            "image_refs": [],
        }
    )
    corpus.seeds = corpus.seeds + [
        {"spider": "site", "url": "http://h000.test/api/items",
         "rule": "api", "priority": 0}
    ]
    spec = SpiderSpec(
        "site",
        link_rules=(
            LinkRule("/p/", "list", 0),
            LinkRule("/d/", "detail", 1),
            LinkRule("/img/", "image", 2),
            LinkRule("/api/", "api", 0),
        ),
        extract_rules=(
            ExtractRule(
                rule="api",
                item_pattern="data.items",
                fields=("sku", "price", "tags"),
                kind="json",
            ),
        ),
    )
    run, res = run_pair(spark, corpus, spec)
    try:
        check_conformance(run, res)
    finally:
        run.cleanup()
    api_items = [i for i in res.items if "sku" in i["data"]]
    assert {i["data"]["sku"] for i in api_items} == {"A-1", "B-2", "C-3"}
    by_sku = {i["data"]["sku"]: i["data"] for i in api_items}
    assert by_sku["A-1"]["price"] == "12.5"
    assert by_sku["A-1"]["tags"] == '["x","y"]'
    assert by_sku["C-3"]["price"] == ""


def test_seed_honors_method_and_post_data(spark, tmp_path):
    """HtmlForm.submit() dicts seed POST / POST-M requests verbatim:
    seed() must carry method + post_data into the frontier row (and key
    the dedup hash on method), not silently downgrade to body-less GET
    (ADVICE r3; reference request.go:139-145 hashes method too)."""
    from pholcus_spark.catalog import SnapshotCatalog
    from pholcus_spark.engine import CrawlEngine
    from pholcus_spark.fetch import FixtureFetcher
    from pholcus_spark.spiderspec import SpiderSpec

    pages = spark.createDataFrame(
        [], "url string, status int, flaky boolean, content_type string, body binary"
    )
    robots = spark.createDataFrame(
        [], "host string, disallow_prefixes array<string>, crawl_delay_ms long"
    )
    cat = SnapshotCatalog(str(tmp_path / "seedpost"), spark)
    eng = CrawlEngine(
        spark, cat, FixtureFetcher(pages), SpiderSpec("site"), robots,
        EngineConfig(),
    )
    eng.seed(
        [
            {"url": "http://h0.test/login", "rule": "r", "spider": "site",
             "method": "post", "post_data": "user=u&pass=p"},
            # same URL as GET: different method -> different key, both kept
            {"url": "http://h0.test/login", "rule": "r", "spider": "site"},
            {"url": "http://h0.test/up", "rule": "r", "spider": "site",
             "method": "POST-M", "post_data": "title=t"},
        ]
    )
    rows = cat.read("frontier").collect()
    by = {(r.url, r.method): r.post_data for r in rows}
    assert by[("http://h0.test/login", "POST")] == "user=u&pass=p"
    assert by[("http://h0.test/login", "GET")] == ""
    assert by[("http://h0.test/up", "POST-M")] == "title=t"
    assert len(rows) == 3 and len({r.key for r in rows}) == 3


def test_request_headers_conformance(runs):
    """Author-set request headers (request.Request{Header:},
    request.go:25): spider-static spec.headers unlock /d/static, a
    temp-sourced hdr: entry unlocks /d/dynamic (the weibo_fans.go:62
    keyin-sourced-Cookie shape), dynamic overrides a same-named static
    on /d/override, and the never-sent header leaves /d/walled a
    permanent 403 failure — engine (JVM headers_col + fixture gate)
    == oracle (independent dict merge) on seen/order/failures."""
    from pholcus_spark.keys import request_key

    _, run, res = runs["headers"]
    check_conformance(run, res)

    def dkey(u):
        return request_key("site", "detail", f"http://hw.test{u}", "GET")

    seen_keys = {r.key for r in run.df("url_seen").collect()}
    assert dkey("/d/static") in seen_keys
    assert dkey("/d/dynamic") in seen_keys
    assert dkey("/d/override") in seen_keys
    assert dkey("/d/walled") not in seen_keys
    ff = {r.key for r in run.df("failures_final").collect()}
    assert ff == {dkey("/d/walled")}


# ---------------------------------------------------------------------------
# ctx.FileOutput / FileRule (context.go:247-284, filetest.go:41-64)
# ---------------------------------------------------------------------------

_PNG_BODY = b"\x89PNG\r\n\x1a\n" + b"\x00" * 48
_DOC_BODY = b"<html><body>pholcus readme</body></html>"


def _file_corpus() -> fixtures.Corpus:
    """filetest.go shape over fixtures: an index page linking one binary
    download (named rule, like FileOutput("baidu")) and one extension-less
    text download (default naming -> .html)."""
    host = "files.test"

    def page(path, body, content_type, out_links=()):
        return {
            "url": f"http://{host}{path}",
            "host": host,
            "depth": 0,
            "status": 200,
            "flaky": False,
            "fail_attempts": 0,
            "content_type": content_type,
            "body": body,
            "out_links": list(out_links),
            "image_refs": [],
        }

    pages = [
        page(
            "/idx",
            b'<html><body><a href="/dl/bd_logo1.png">l</a>'
            b'<a href="/txt/pholcus">p</a></body></html>',
            "text/html; charset=utf-8",
            out_links=[f"http://{host}/dl/bd_logo1.png",
                       f"http://{host}/txt/pholcus"],
        ),
        page("/dl/bd_logo1.png", _PNG_BODY, "image/png"),
        page("/txt/pholcus", _DOC_BODY, "text/html; charset=utf-8"),
    ]
    seeds = [
        {"spider": "filetest", "url": f"http://{host}/idx", "rule": "list",
         "priority": 0},
    ]
    robots = [{"host": host, "disallow_prefixes": [], "crawl_delay_ms": None}]
    return fixtures.Corpus(
        pages=pages, images=[], images_truth=[], seeds=seeds, robots=robots
    )


_FILE_SPIDER = SpiderSpec(
    "filetest",
    link_rules=(
        LinkRule("/idx", "list", 0),
        LinkRule("/dl/", "百度图片", 1),
        LinkRule("/txt/", "Pholcus页面", 1),
    ),
    item_rules=(),
    image_rule="image",
    file_rules=(
        FileRule("百度图片", "baidu"),   # ctx.FileOutput("baidu")
        FileRule("Pholcus页面"),          # ctx.FileOutput()
    ),
)


@pytest.mark.parametrize("body_store", [False, True])
def test_file_output_conformance(spark, body_store, tmp_path):
    """FileRule-matched fetches land in the typed `files` table (raw
    body, context.go naming), are never parsed as pages, and match the
    oracle's FileCell set exactly — in both the plain fixture fetcher
    and the body-store (attach_bodies) modes. export_files then writes
    the reference's FileDir/FNR(namespace)/ layout from the table."""
    corpus = _file_corpus()
    run, res = run_pair(spark, corpus, _FILE_SPIDER, body_store=body_store)
    try:
        check_conformance(run, res)
        fdf = run.df("files")
        rows = fdf.collect()
        eng = {(r.rule, r.url, r.name, r.size) for r in rows}
        assert eng == {
            (f["rule"], f["url"], f["name"], f["size"]) for f in res.files
        }
        assert len(eng) == 2
        by_name = {r.name: bytes(r.bytes) for r in rows}
        # context.go naming: arg stem + URL ext; URL stem + .html default
        assert by_name["baidu.png"] == _PNG_BODY
        assert by_name["pholcus.html"] == _DOC_BODY
        # file pages are fetched but never parsed: no children from them
        assert all(
            i["url"] != "http://files.test/dl/bd_logo1.png"
            for i in res.items
        )
        # disk sink: output_file.go FileDir layout
        out = str(tmp_path / "filedir")
        sinks.export_files(fdf, out)
        import os
        assert (
            open(os.path.join(out, "filetest", "baidu.png"), "rb").read()
            == _PNG_BODY
        )
        assert (
            open(os.path.join(out, "filetest", "pholcus.html"), "rb").read()
            == _DOC_BODY
        )
    finally:
        run.cleanup()
