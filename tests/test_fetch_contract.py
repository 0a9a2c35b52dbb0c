"""The fetcher contract the engine runs every wave through
(fetch.Fetcher): ``fetch_meta`` + ``attach_bodies`` must rebuild exactly
what ``fetch`` returns, the default ``parse_pages`` must match the body
store's fused parse, and a crawl must release the storage of each
superstep it runs."""

from pyspark.sql import functions as F

from pholcus_spark import fixtures
from pholcus_spark.bodystore import ParquetBodyStore
from pholcus_spark.catalog import SnapshotCatalog
from pholcus_spark.engine import FRONTIER_DDL, CrawlEngine, EngineConfig
from pholcus_spark.fetch import FixtureFetcher, StoreFetcher
from pholcus_spark.spiderspec import ExtractRule, SpiderSpec

_CORPUS = fixtures.generate(
    fixtures.SiteSpec(n_hosts=2, list_pages=3, flaky_rate=0.2, fail_404_rate=0.2)
)
_COLS = ["key", "url", "rule", "status", "content_type", "body", "ok"]


def _fetchers(spark, tmp_path):
    pages = fixtures.to_spark(spark, _CORPUS)[0]
    store = ParquetBodyStore.write(pages, str(tmp_path / "store"), n_buckets=4)
    return {
        "fixture": FixtureFetcher(pages),
        "store": StoreFetcher(spark, store),
    }


def _wave(spark):
    """Every corpus page plus one URL no page answers."""
    urls = [p["url"] for p in _CORPUS.pages] + ["http://h000.test/missing"]
    rows = [
        (f"k{i}", "site", "detail" if "/img/" not in u else "image", u,
         u.split("/")[2], "GET", "", 0, i, 1, None, 0, False, False, {},
         "queued")
        for i, u in enumerate(urls)
    ]
    return spark.createDataFrame(rows, FRONTIER_DDL)


def _rows(df, cols):
    return sorted(
        tuple(bytes(v) if isinstance(v, bytearray) else v for v in r)
        for r in df.select(*cols).collect()
    )


def test_attach_bodies_rebuilds_fetch(spark, tmp_path):
    wave = _wave(spark)
    for name, fetcher in _fetchers(spark, tmp_path).items():
        assert "body" not in fetcher.fetch_meta(wave).columns, name
        for f in (F.col("ok"), ~F.col("ok")):
            got = fetcher.attach_bodies(fetcher.fetch_meta(wave).where(f))
            want = fetcher.fetch(wave).where(f)
            assert _rows(got, _COLS) == _rows(want, _COLS), name


def test_default_parse_matches_fused_store_parse(spark, tmp_path):
    fetchers = _fetchers(spark, tmp_path)
    rules = (
        ExtractRule(
            rule="detail",
            item_pattern=r'<a href="(?P<href>[^"]*)">(?P<anchor_text>[^<]*)</a>',
            fields=("href", "anchor_text"),
            link_fields=("href",),
        ),
    )
    wave = _wave(spark)
    html = F.col("ok") & ~F.col("url").contains("/img/")
    out = {}
    for name, fetcher in fetchers.items():
        meta = fetcher.fetch_meta(wave).where(html)
        parsed = fetcher.parse_pages(meta, rules, n_tasks=2)
        assert "body" not in parsed.columns
        out[name] = sorted(
            str(r.asDict(recursive=True))
            for r in parsed.select(
                "url", "out_links", "figures", "dsl_items", "dsl_links",
                "dsl_carry",
            ).collect()
        )
    assert out["fixture"], "no html page parsed"
    assert out["fixture"] == out["store"]


def test_run_releases_superstep_storage(spark, tmp_path, monkeypatch):
    """Every superstep checkpoint is released at its flush, not left
    to JVM GC: after a full crawl the only checkpoint still holding
    executor storage is the engine's current frontier, and the
    persistent-RDD count is no higher than after the first two
    supersteps. The test keeps a reference to every checkpoint, so GC
    cannot do the releasing."""
    made = []
    frame_cls = type(spark.range(1))
    checkpoint = frame_cls.localCheckpoint

    def recording(df, *a, **kw):
        made.append(checkpoint(df, *a, **kw))
        return made[-1]

    monkeypatch.setattr(frame_cls, "localCheckpoint", recording)
    corpus = fixtures.generate(fixtures.SiteSpec(n_hosts=2, list_pages=3))
    pages, _i, _t, _s, robots = fixtures.to_spark(spark, corpus)
    fetcher = FixtureFetcher(pages.persist())
    fetcher.pages.count()
    jsc = spark.sparkContext._jsc
    eng = CrawlEngine(
        spark, SnapshotCatalog(str(tmp_path / "crawl"), spark), fetcher,
        SpiderSpec("site"), robots, EngineConfig(wave_window_ms=3000),
    )
    base = jsc.getPersistentRDDs().size()
    eng.seed(corpus.seeds)
    eng.run(max_supersteps=2)
    after_two = jsc.getPersistentRDDs().size() - base
    state = eng.run()
    assert state["stopped"] and state["superstep"] >= 4
    assert jsc.getPersistentRDDs().size() - base <= after_two

    def rdd_id(df):
        return df._jdf.queryExecution().analyzed().rdd().id()

    persistent = set(jsc.getPersistentRDDs().keys())
    held = [df for df in made if rdd_id(df) in persistent]
    assert len(made) > 3 * state["superstep"]
    assert [rdd_id(df) for df in held] == [rdd_id(eng._frontier_df)]
    pages.unpersist()


def test_one_live_fetcher():
    """The package has one fetcher per kind, fixture, body store and
    live HTTP (the reference has one downloader), and the live fetcher
    has one mapInPandas wrapper for every transport."""
    import ast
    import inspect

    import pholcus_spark.sources  # noqa: F401
    from pholcus_spark import httpfetch
    from pholcus_spark.fetch import Fetcher

    def subclasses(cls):
        for sub in cls.__subclasses__():
            yield sub
            yield from subclasses(sub)

    assert {
        c.__name__
        for c in subclasses(Fetcher)
        if c.__module__.startswith("pholcus_spark.")
    } == {"FixtureFetcher", "StoreFetcher", "HttpFetcher"}
    tree = ast.parse(inspect.getsource(httpfetch))
    wrappers = [
        n
        for n in ast.walk(tree)
        if isinstance(n, ast.Call)
        and isinstance(n.func, ast.Attribute)
        and n.func.attr == "mapInPandas"
    ]
    assert len(wrappers) == 1
    # one blocking transport: no event loop under the batch's pool
    assert not [
        n for n in ast.walk(tree)
        if isinstance(n, (ast.AsyncFunctionDef, ast.Await))
    ]
    imported = {
        a.name.split(".")[0]
        for n in ast.walk(tree)
        if isinstance(n, ast.Import)
        for a in n.names
    } | {
        (n.module or "").split(".")[0]
        for n in ast.walk(tree)
        if isinstance(n, ast.ImportFrom)
    }
    assert not {"asyncio", "contextlib"} & imported
    assert list(
        inspect.signature(httpfetch.HttpFetcher.__init__).parameters
    ) == [
        "self", "timeout_s", "try_times", "retry_pause_s",
        "redirect_times", "max_conn_per_task", "enable_cookie",
    ]


def test_image_paths_agree_on_fragment_src(spark, tmp_path):
    """A figure src with a fragment (``/img/<id>.png#v2``) carries an
    empty image_id: the fragment defeats the ``$``-anchored id pattern.
    The JVM images projection (fixture fetcher) and the python image
    sink (body store) both then read the id off the image row's own,
    fragment-free URL."""
    import dataclasses

    from pholcus_spark import testkit

    corpus = fixtures.generate(
        fixtures.SiteSpec(
            n_hosts=1, list_pages=1, flaky_rate=0.0, fail_404_rate=0.0
        )
    )
    corpus = dataclasses.replace(
        corpus,
        pages=[
            {**p, "body": p["body"].replace(b'.png"', b'.png#v2"')}
            if p["content_type"].startswith("text/html")
            else p
            for p in corpus.pages
        ],
    )
    want = sorted(i["image_id"] for i in corpus.images)
    assert want
    for body_store in (False, True):
        run = testkit.run_engine(
            spark, corpus, SpiderSpec("site"),
            EngineConfig(python_image_sink=body_store),
            workdir=str(tmp_path / f"crawl-{body_store}"),
            body_store=body_store,
        )
        got = sorted(r.image_id for r in run.df("images").collect())
        assert got == want, body_store
