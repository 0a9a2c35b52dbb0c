"""Python tasks run only where page bodies are read.

Driver-built rows become JVM local relations (``session.local_frame``),
a superstep evaluates the robots dim once per engine, and the parse
kernel runs once per parsed page, in its own job before the children
phase."""

import ast
import os

from pyspark.sql import functions as F

from pholcus_spark import extract, fixtures
from pholcus_spark.bodystore import ParquetBodyStore
from pholcus_spark.catalog import SnapshotCatalog
from pholcus_spark.engine import CrawlEngine, EngineConfig
from pholcus_spark.fetch import FixtureFetcher, StoreFetcher
from pholcus_spark.session import local_frame
from pholcus_spark.spiderspec import SpiderSpec

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_DDL = (
    "k string, n long, x double, ok boolean, b binary, "
    "tags array<string>, temp map<string,string>, parent string"
)
_ROWS = [
    ("a", 1, 0.5, True, b"\x00\xff", ["x", "y"], {"p": "q"}, None),
    ("b", None, None, None, None, None, None, "http://h.test/"),
    ("", -(2**40), 1e300, False, b"", [], {}, ""),
]


def test_local_frame_matches_create_dataframe(spark):
    for rows in (_ROWS, []):
        want = spark.createDataFrame(rows, _DDL)
        got = local_frame(spark, rows, _DDL)
        assert got.schema == want.schema
        assert got.collect() == want.collect()
        plan = got._jdf.queryExecution().executedPlan().toString()
        assert "LocalTableScan" in plan, plan
        assert "ExistingRDD" not in plan, plan


def test_driver_rows_only_through_local_frame():
    """No ``createDataFrame``/``parallelize`` call in the package or the
    query entry point outside ``session.local_frame``: either pickles
    driver rows into a PythonRDD that re-runs python tasks on every
    scan."""
    paths = [os.path.join(_ROOT, "__spark_entry__.py")]
    for d, _sub, files in os.walk(os.path.join(_ROOT, "pholcus_spark")):
        paths += [os.path.join(d, f) for f in files if f.endswith(".py")]
    found = []
    for path in paths:
        with open(path, encoding="utf-8") as f:
            tree = ast.parse(f.read(), path)
        allowed = {
            id(n)
            for fn in tree.body
            if path.endswith(os.path.join("pholcus_spark", "session.py"))
            and isinstance(fn, ast.FunctionDef) and fn.name == "local_frame"
            for n in ast.walk(fn)
        }
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in ("createDataFrame", "parallelize")
                and id(node) not in allowed
            ):
                found.append(f"{os.path.relpath(path, _ROOT)}:{node.lineno}")
    assert not found, found


def _engine(spark, tmp_path, corpus, fetcher, robots):
    return CrawlEngine(
        spark, SnapshotCatalog(str(tmp_path / "crawl"), spark), fetcher,
        SpiderSpec("site"), robots, EngineConfig(wave_window_ms=3000),
    )


def test_robots_dim_evaluated_once_per_engine(spark, tmp_path):
    corpus = fixtures.generate(
        fixtures.SiteSpec(
            n_hosts=3, list_pages=3, flaky_rate=0.0, fail_404_rate=0.0,
            robots_disallow={"h001.test": ["/d/0/1"]},
        )
    )
    pages, _i, _t, _s, robots = fixtures.to_spark(spark, corpus)
    evaluated = spark.sparkContext.accumulator(0)

    def count_row(host):
        evaluated.add(1)
        return host

    # every read of the dim (seed filter, wave join, children filter)
    # needs `host`, so each evaluation of its lineage runs the UDF
    robots = robots.withColumn("host", F.udf(count_row, "string")("host"))
    eng = _engine(spark, tmp_path, corpus, FixtureFetcher(pages), robots)
    eng.seed(corpus.seeds)
    assert eng.superstep() > 0
    assert eng.superstep() > 0
    assert evaluated.value == len(corpus.robots)


def test_parse_kernel_runs_once_per_page(spark, tmp_path, monkeypatch):
    corpus = fixtures.generate(
        fixtures.SiteSpec(n_hosts=2, list_pages=3, flaky_rate=0.0, fail_404_rate=0.0)
    )
    pages = fixtures.to_spark(spark, corpus)[0]
    store = ParquetBodyStore.write(pages, str(tmp_path / "store"), n_buckets=4)
    parsed_rows = spark.sparkContext.accumulator(0)
    kernel = extract.parse_pages_kernel

    def counting_kernel(*args, **kwargs):
        parse = kernel(*args, **kwargs)

        def run(pdf):
            parsed_rows.add(len(pdf))
            return parse(pdf)

        return run

    monkeypatch.setattr(extract, "parse_pages_kernel", counting_kernel)
    html_seeds = {
        p["url"] for p in corpus.pages if p["content_type"].startswith("text/html")
    } & {s["url"] for s in corpus.seeds}
    assert html_seeds
    for name, fetcher in (
        ("fixture", FixtureFetcher(pages)),
        ("store", StoreFetcher(spark, store)),
    ):
        before = parsed_rows.value
        eng = _engine(spark, tmp_path / name, corpus, fetcher, None)
        # the parse is materialized before the children phase reads it,
        # so no children stage holds task slots waiting on a cache fill
        at_children = []
        push_children = eng._push_children

        def recording(*args, **kwargs):
            at_children.append(parsed_rows.value - before)
            return push_children(*args, **kwargs)

        eng._push_children = recording
        eng.seed(corpus.seeds)
        assert eng.superstep() == len(corpus.seeds), name
        assert at_children == [len(html_seeds)], name
        assert parsed_rows.value - before == len(html_seeds), name


def test_children_phase_runs_no_python_stage(spark, tmp_path):
    """The parse kernel hands links over canonical, so the children
    phase (the emitted links and their push) plans no python stage: the
    parse is the superstep's one python stage, in its own job."""
    corpus = fixtures.generate(
        fixtures.SiteSpec(n_hosts=2, list_pages=3, flaky_rate=0.0, fail_404_rate=0.0)
    )
    pages = fixtures.to_spark(spark, corpus)[0]
    store = ParquetBodyStore.write(pages, str(tmp_path / "store"), n_buckets=4)
    eng = _engine(spark, tmp_path, corpus, StoreFetcher(spark, store), None)
    seen = []  # (job description, executed plan) per checkpoint
    checkpoint = eng._checkpoint

    def recording(df):
        desc = spark.sparkContext.getLocalProperty("spark.job.description")
        seen.append((desc, df._jdf.queryExecution().executedPlan().toString()))
        return checkpoint(df)

    eng._checkpoint = recording
    eng.seed(corpus.seeds)
    assert eng.superstep() > 0
    phases = [d for d, _p in seen]
    assert phases.count("ss1:children") == 2, phases  # emitted links, rank
    assert phases.count("ss1:parse") == 1, phases
    for desc, phys in seen:
        if desc == "ss1:parse":
            assert "MapInPandas" in phys, phys
        else:
            assert "Python" not in phys and "MapInPandas" not in phys, (desc, phys)


def test_canon_host_udf_only_in_canonical_split():
    """Static guard: the canonicalize UDF is called only by
    ``engine.canonical_split``, and that only for URLs built in the JVM
    (``seed_urls_df``, PaginateRule rows) — never on the emitted-links
    path, whose links the parse kernel canonicalizes."""
    paths = [os.path.join(_ROOT, "__spark_entry__.py")]
    for d, _sub, files in os.walk(os.path.join(_ROOT, "pholcus_spark")):
        paths += [os.path.join(d, f) for f in files if f.endswith(".py")]
    sites: dict[str, set] = {"canon_host_udf": set(), "canonical_split": set()}

    class Calls(ast.NodeVisitor):
        fn = "<module>"

        def visit_FunctionDef(self, node):
            outer, self.fn = self.fn, node.name
            self.generic_visit(node)
            self.fn = outer

        def visit_Call(self, node):
            f = node.func
            name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", "")
            if name in sites:
                sites[name].add((os.path.relpath(self.path, _ROOT), self.fn))
            self.generic_visit(node)

    for path in paths:
        with open(path, encoding="utf-8") as f:
            v = Calls()
            v.path = path
            v.visit(ast.parse(f.read(), path))
    engine = os.path.join("pholcus_spark", "engine.py")
    assert sites["canon_host_udf"] == {(engine, "canonical_split")}, sites
    assert sites["canonical_split"] == {
        (engine, "seed_urls_df"), (engine, "_paginate_children"),
    }, sites
