"""Plan-shape guards: the physical plans the 100 TB story depends on.
Regressions here (a filter no longer reaching the parquet scan, a
column-pruned scan going wide, a broadcast join degrading to shuffle)
change no results at test scale but break the engine at target scale —
so they are pinned explicitly."""

import re
import sys

sys.path.insert(0, ".")

import __spark_entry__ as entry_mod

SF_DIR = "/root/testdata/sf0.001"


def _plans(df):
    qe = df._jdf.queryExecution()
    return qe.executedPlan().toString(), qe.optimizedPlan().toString()


def test_q1_filter_pushdown_and_column_pruning(spark):
    df = entry_mod.queries()["q1_pricing_summary"](spark, SF_DIR)
    phys, _ = _plans(df)
    # the shipdate filter reaches the parquet scan
    assert "PushedFilters: [" in phys and "l_shipdate" in phys.split(
        "PushedFilters"
    )[1][:200]
    # the scan reads only needed columns, not the 16-column lineitem row
    read_schema = phys.split("ReadSchema")[1][:400]
    assert "l_extendedprice" in read_schema
    assert "l_comment" not in read_schema and "l_orderkey" not in read_schema


def test_q3_broadcasts_customer_dim(spark):
    df = entry_mod.queries()["q3_shipping_priority"](spark, SF_DIR)
    phys, _ = _plans(df)
    assert "BroadcastHashJoin" in phys  # small dim never shuffles big side


def test_dedup_anti_join_pushdown(spark):
    df = entry_mod.queries()["q_dedup_anti_join"](spark, SF_DIR)
    phys, _ = _plans(df)
    assert "PushedFilters: [" in phys
    assert "CartesianProduct" not in phys


def test_entry_flagship_no_cartesian(spark):
    df = entry_mod.entry(spark)
    phys, _ = _plans(df)
    assert "CartesianProduct" not in phys


def test_two_phase_rank_matches_global_window(spark):
    """two_phase_rank (the seed-merge / requeue / push rank) assigns the
    exact ranks of a global row_number WITHOUT funnelling the data
    through one task: one range-partitioned sort, materialized once, and
    no window or SinglePartition exchange over the data rows — at one
    and at eight range partitions (``spark.sql.shuffle.partitions``,
    AQE coalescing off), for empty input, and with AQE coalescing the
    range partitions (the engine's session)."""
    from pyspark.sql import functions as F

    from pholcus_spark.engine import release, two_phase_rank

    df = (
        spark.range(0, 5000)
        .select((F.col("id") * 7919 % 5000).alias("seq"))
        .persist()
    )
    made = []

    def check(src, parts, n):
        def checkpoint(d):
            made.append(d.localCheckpoint(eager=True))
            phys = d._jdf.queryExecution().executedPlan().toString()
            phys = phys.split("== Initial Plan ==")[0]
            # at most one exchange (AQE folds empty input away), a
            # range one (at one range partition that is the
            # SinglePartition exchange asked for)
            assert phys.count("Exchange") <= 1, phys
            if parts != 1 and n:
                if parts == 8:
                    assert re.search(r"rangepartitioning\(seq#\d+L ASC NULLS FIRST, 8\)", phys), phys
                assert "rangepartitioning(seq" in phys, phys
                assert "SinglePartition" not in phys, phys
            for banned in ("Window", "Join"):
                assert banned not in phys, (banned, phys)
            return made[-1]

        spark.conf.set("spark.sql.shuffle.partitions", str(parts))
        ranked, total = two_phase_rank(src, [F.asc("seq")], "_rn", checkpoint)
        phys, _ = _plans(ranked)
        for banned in ("Window", "SinglePartition", "Exchange", "Join"):
            assert banned not in phys, (banned, phys)
        assert total == n
        rows = ranked.select("seq", "_rn").collect()
        assert sorted((r.seq, r._rn) for r in rows) == [
            (i, i + 1) for i in range(n)
        ], (parts, n)

    coalesce = "spark.sql.adaptive.coalescePartitions.enabled"
    saved = {
        k: spark.conf.get(k)
        for k in ("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions", coalesce)
    }
    try:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
        spark.conf.set(coalesce, "false")
        for parts in (1, 8):
            before = len(made)
            check(df, parts, 5000)
            assert made[before].rdd.getNumPartitions() == parts
            check(df.where("seq < 0"), parts, 0)
        # AQE merges small adjacent range partitions: 64 ranges of ~8
        # rows come out as fewer checkpoint partitions
        spark.conf.set(coalesce, "true")
        before = len(made)
        check(df.where("seq < 500"), 64, 500)
        assert made[before].rdd.getNumPartitions() < 64
        check(df.where("seq < 0"), 64, 0)
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
        for d in made:
            release(d)
        df.unpersist()


def test_wave_selection_has_no_unpartitioned_window(spark, tmp_path):
    """Round-3 verdict item: `record_order` defaulted True, so every
    superstep of a defaults-taking production run paid a SinglePartition
    exchange for the test-only golden-order window. Wave selection is
    now one tagged plan under every config: its windows partition by
    host (politeness) and by (spider, in-budget) (fair-share quota), and
    no config — quota and record_order included — adds a
    SinglePartition exchange to it."""
    from pholcus_spark.catalog import SnapshotCatalog
    from pholcus_spark.engine import CrawlEngine, EngineConfig
    from pholcus_spark.fetch import FixtureFetcher
    from pholcus_spark.spiderspec import SpiderSpec

    assert EngineConfig().record_order is False

    pages = spark.createDataFrame(
        [], "url string, status int, flaky boolean, content_type string, body binary"
    )
    robots = spark.createDataFrame(
        [("h0.test", [], 100)],
        "host string, disallow_prefixes array<string>, crawl_delay_ms long",
    )
    queued = spark.createDataFrame(
        [
            (f"http://h{i % 4}.test/p/{i}", f"h{i % 4}.test", "list",
             f"s{i % 3}", "", i % 2, i, False, {}, "queued", "GET", "")
            for i in range(64)
        ],
        "url string, host string, rule string, spider string, keyin string, "
        "priority int, seq long, reloadable boolean, temp map<string,string>, "
        "state string, method string, post_data string",
    )

    def tagged(cfg):
        eng = CrawlEngine(
            spark, SnapshotCatalog(str(tmp_path / "wp"), spark),
            FixtureFetcher(pages), SpiderSpec("site"), robots, cfg,
        )
        return eng._wave_tagged(queued)

    configs = [
        EngineConfig(),
        EngineConfig(record_order=True),
        EngineConfig(per_spider_quota=3),
        EngineConfig(per_spider_quota=3, record_order=True),
    ]
    for cfg in configs:
        df = tagged(cfg)
        phys = _plans(df)[0]
        assert "SinglePartition" not in phys, cfg
        assert "windowspecdefinition(host" in phys
        if cfg.per_spider_quota is not None:
            assert re.search(r"windowspecdefinition\(spider#\d+, _wv", phys)
        # every queued row is kept exactly once, tagged in or out
        assert df.count() == 64
    # the quota caps each spider's in-budget rows (3 spiders x 3)
    wave = tagged(EngineConfig(per_spider_quota=3)).where("_wv")
    per_spider = {r.spider: r["count"] for r in wave.groupBy("spider").count().collect()}
    assert per_spider == {"s0": 3, "s1": 3, "s2": 3}


def test_seed_range_frontier_is_multi_partition(spark, tmp_path):
    """The seed_range -> merge path ranks its seeds without funnelling
    them through one task (round-2 verdict item 3: the old global
    Window.orderBy rank did): its plans hold no SinglePartition
    exchange, and the rank is a range-partitioned sort. How many
    partitions the ranges end up in is AQE's call by data size."""
    from pholcus_spark.catalog import SnapshotCatalog
    from pholcus_spark.engine import CrawlEngine, EngineConfig
    from pholcus_spark.fetch import FixtureFetcher
    from pholcus_spark.spiderspec import SpiderSpec

    pages = spark.createDataFrame(
        [], "url string, status int, flaky boolean, content_type string, body binary"
    )
    robots = spark.createDataFrame(
        [], "host string, disallow_prefixes array<string>, crawl_delay_ms long"
    )
    cat = SnapshotCatalog(str(tmp_path / "seedrange"), spark)
    eng = CrawlEngine(
        spark, cat, FixtureFetcher(pages), SpiderSpec("site"), robots,
        EngineConfig(frontier_partitions=8),
    )
    plans = []
    checkpoint = eng._checkpoint

    def recording(df):
        plans.append(_plans(df)[0])
        return checkpoint(df)

    eng._checkpoint = recording
    eng.seed_range("http://h000.test/p/%d", 0, 2000, "list", "site")
    assert any("rangepartitioning(" in p for p in plans), plans
    assert not any("SinglePartition" in p for p in plans), plans
    frontier = cat.read("frontier")
    assert frontier.count() == 2000
    lo = frontier.orderBy("seq").limit(3).collect()
    assert [r.url for r in lo] == [
        f"http://h000.test/p/{i}" for i in range(3)
    ]


def test_push_dedups_cuts_and_numbers(spark, tmp_path):
    """CrawlEngine._push, the one Push every frontier entry goes
    through, on hand-built candidates: history and in-flight keys drop,
    the first non-reloadable row per key in push order wins, reloadable
    rows all pass, the limit keeps a prefix of the survivors and seq is
    dense from next_seq — at one and at eight shuffle partitions (the
    rank's range width) — and the returned count is the pushed rows'."""
    from pyspark.sql import functions as F

    from pholcus_spark.catalog import SnapshotCatalog
    from pholcus_spark.engine import (
        URL_SEEN_DDL, CrawlEngine, EngineConfig, release,
    )
    from pholcus_spark.fetch import FixtureFetcher
    from pholcus_spark.session import local_frame
    from pholcus_spark.spiderspec import SpiderSpec

    pages = local_frame(
        spark, [], "url string, status int, flaky boolean, content_type string, body binary"
    )
    # (key, reloadable, seq); seq is the push order and, below, the tag
    cands = local_frame(
        spark,
        [
            ("b", False, 6), ("a", False, 3), ("r", True, 4), ("s", False, 2),
            ("a", False, 0), ("q", False, 5), ("r", True, 1), ("c", False, 7),
        ],
        "key string, reloadable boolean, seq long",
    ).withColumn("tag", F.col("seq"))
    in_flight = local_frame(spark, [("q",)], "key string")
    survivors = [0, 1, 4, 6, 7]  # a first, r twice, b, c
    coalesce = "spark.sql.adaptive.coalescePartitions.enabled"
    saved = {k: spark.conf.get(k) for k in ("spark.sql.shuffle.partitions", coalesce)}
    try:
        # coalescing off, so the eight ranges stay eight partitions
        spark.conf.set(coalesce, "false")
        for parts in (1, 8):
            spark.conf.set("spark.sql.shuffle.partitions", str(parts))
            cat = SnapshotCatalog(str(tmp_path / f"push{parts}"), spark)
            cat.commit(
                {"url_seen": local_frame(spark, [("s", 0)], URL_SEEN_DDL)}, {}, {}
            )
            eng = CrawlEngine(
                spark, cat, FixtureFetcher(pages), SpiderSpec("site"), None,
                EngineConfig(),
            )
            for max_page, want in ((None, survivors), (-2, survivors[:2])):
                state = {"next_seq": 10, "max_page": max_page}
                pushed, n = eng._push(cands, [F.asc("seq")], in_flight, state)
                got = sorted((r.seq, r.tag) for r in pushed.collect())
                assert got == [(10 + i, t) for i, t in enumerate(want)], (parts, max_page)
                assert n == len(want), (parts, max_page)
            for df in eng._pending_release:
                release(df)
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_engine_commits_and_checkpoints_in_one_place():
    """Static guard: engine.py commits the catalog only in ``_flush``,
    and checkpoints only in ``_checkpoint`` (superstep-owned) and
    ``_set_frontier`` (the frontier) — so every snapshot goes through
    the one flush and every checkpoint has one release path. It sets
    no session conf: the session may be shared by other engines
    (``equiv_runs`` drives four from threads), and AQE sizes the
    shuffles."""
    import ast
    import os

    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "pholcus_spark", "engine.py",
    )
    sites: dict[str, list[str]] = {
        "commit": [], "localCheckpoint": [], "conf.set": [],
    }

    class Calls(ast.NodeVisitor):
        fn = "<module>"  # innermost enclosing function

        def visit_FunctionDef(self, node):
            outer, self.fn = self.fn, node.name
            self.generic_visit(node)
            self.fn = outer

        def visit_Call(self, node):
            func = node.func
            if isinstance(func, ast.Attribute) and (
                func.attr == "localCheckpoint"
                or (
                    func.attr == "commit"
                    and isinstance(func.value, ast.Attribute)
                    and func.value.attr == "catalog"
                )
            ):
                sites[func.attr].append((self.fn, node.lineno))
            if (
                isinstance(func, ast.Attribute)
                and func.attr == "set"
                and isinstance(func.value, ast.Attribute)
                and func.value.attr == "conf"
            ):
                sites["conf.set"].append((self.fn, node.lineno))
            self.generic_visit(node)

    with open(path, encoding="utf-8") as f:
        Calls().visit(ast.parse(f.read(), path))
    assert [fn for fn, _ in sites["commit"]] == ["_flush"], sites
    assert sites["conf.set"] == [], sites
    assert sorted(fn for fn, _ in sites["localCheckpoint"]) == [
        "_checkpoint", "_set_frontier",
    ], sites


def test_one_seen_set_lifecycle():
    """Static guard: the Bloom-sidecar lifecycle lives once, in
    ``bloom.SeenSet``. Under ``pholcus_spark/`` the only calls of
    ``build_sidecar`` and ``load_sidecar`` are inside ``SeenSet``, and
    neither the engine nor ``ops/seenstore.py`` touches a sidecar's
    ``covered_dirs`` — so the engine's url_seen and SeenStore cannot
    grow two rebuild policies again."""
    import ast
    import os

    pkg = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "pholcus_spark",
    )
    sites: list[tuple[str, str, str, int]] = []

    class Calls(ast.NodeVisitor):
        def __init__(self, rel):
            self.rel, self.cls = rel, "<module>"  # innermost enclosing class

        def visit_ClassDef(self, node):
            outer, self.cls = self.cls, node.name
            self.generic_visit(node)
            self.cls = outer

        def visit_Call(self, node):
            f = node.func
            name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", "")
            if name in ("build_sidecar", "load_sidecar"):
                sites.append((self.rel, self.cls, name, node.lineno))
            self.generic_visit(node)

    covered = []
    for dirpath, _dirs, files in os.walk(pkg):
        for fname in sorted(files):
            if not fname.endswith(".py"):
                continue
            path = os.path.join(dirpath, fname)
            rel = os.path.relpath(path, pkg).replace(os.sep, "/")
            with open(path, encoding="utf-8") as f:
                src = f.read()
            Calls(rel).visit(ast.parse(src, path))
            if rel in ("engine.py", "ops/seenstore.py") and "covered_dirs" in src:
                covered.append(rel)
    assert sorted((rel, cls, name) for rel, cls, name, _ in sites) == [
        ("bloom.py", "SeenSet", "build_sidecar"),
        ("bloom.py", "SeenSet", "load_sidecar"),
    ], sites
    assert not covered, covered


def test_key_path_plans_have_no_case_mapping(spark, tmp_path):
    """The seed, children and push plans map no case in the JVM:
    Spark's upper/lower go through ICU, whose first use per JVM runs a
    costly static initialization. HTTP methods are ASCII, so the
    request key upper-cases them with translate."""
    from pholcus_spark import fixtures
    from pholcus_spark.catalog import SnapshotCatalog
    from pholcus_spark.engine import CrawlEngine, EngineConfig
    from pholcus_spark.fetch import FixtureFetcher
    from pholcus_spark.spiderspec import SpiderSpec

    corpus = fixtures.generate(
        fixtures.SiteSpec(n_hosts=2, list_pages=3, flaky_rate=0.0, fail_404_rate=0.0)
    )
    pages, _i, _t, _s, robots = fixtures.to_spark(spark, corpus)
    eng = CrawlEngine(
        spark, SnapshotCatalog(str(tmp_path / "crawl"), spark),
        FixtureFetcher(pages), SpiderSpec("site"), robots,
        EngineConfig(wave_window_ms=3000),
    )
    plans = []
    checkpoint = eng._checkpoint

    def recording(df):
        plans.append(_plans(df)[1])
        return checkpoint(df)

    eng._checkpoint = recording
    eng.seed(corpus.seeds)
    eng.seed_range("http://h000.test/r/%d", 0, 3, "list", "site")
    assert eng.superstep() > 0
    assert len(plans) >= 6  # 2 seed ranks, wave, fetch, parse, children, rank
    for opt in plans:
        assert "upper(" not in opt and "lower(" not in opt, opt
