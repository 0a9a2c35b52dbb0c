from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


# one small flaky+404 corpus and its uninterrupted commit_every=1 run:
# the equivalence anchor shared by test_resume.py and test_commit_every.py
BASELINE_CFG = dict(wave_window_ms=3000, commit_every=1, record_order=True)


def collect_outputs(run):
    from pholcus_spark import testkit

    seen = {r.key for r in run.df("url_seen").select("key").collect()}
    order = testkit.order_tuples_engine(run)
    items = testkit.items_set_engine(run)
    images = {
        (r.image_id, r.caption, bytes(r.bytes), r.phash)
        for r in run.df("images").collect()
    }
    ff = run.df("failures_final")
    failed = sorted(r.key for r in ff.collect()) if ff is not None else []
    # every per-superstep count but the wall time, and the final
    # state's counters and totals
    metrics = sorted(
        tuple(r) for r in run.df("metrics").drop("seconds").collect()
    )
    return seen, order, items, images, failed, metrics, run.state


@pytest.fixture(scope="session")
def equiv_runs(spark):
    """All checkpoint-equivalence chains driven CONCURRENTLY (each chain
    owns its workdir; Spark schedules concurrent jobs from threads):
    the commit_every=1 baseline, the buffered run, and the two
    interrupt->resume chains. Consumed by test_resume.py and
    test_commit_every.py."""
    import shutil
    import tempfile
    from concurrent.futures import ThreadPoolExecutor

    from pholcus_spark import fixtures, testkit
    from pholcus_spark.engine import EngineConfig
    from pholcus_spark.spiderspec import SpiderSpec

    corpus = fixtures.generate(
        fixtures.SiteSpec(n_hosts=2, list_pages=7, flaky_rate=0.1, fail_404_rate=0.1)
    )
    spec = SpiderSpec("site")

    def fresh(commit_every):
        run = testkit.run_engine(
            spark, corpus, spec,
            EngineConfig(**{**BASELINE_CFG, "commit_every": commit_every}),
        )
        try:
            return {
                "outputs": collect_outputs(run),
                "snapshots": len(run.catalog.snapshots()),
                "supersteps": run.state["superstep"],
            }
        finally:
            run.cleanup()

    def interrupted(commit_every, stop_after):
        cfg = EngineConfig(**{**BASELINE_CFG, "commit_every": commit_every})
        workdir = tempfile.mkdtemp(prefix="pholcus-resume-")
        try:
            part = testkit.run_engine(
                spark, corpus, spec, cfg, workdir=workdir,
                max_supersteps=stop_after,
            )
            part_state = dict(part.state)
            resumed = testkit.run_engine(
                spark, corpus, spec, cfg, workdir=workdir
            )
            return {
                "part_state": part_state,
                "resumed_state": dict(resumed.state),
                "outputs": collect_outputs(resumed),
            }
        finally:
            shutil.rmtree(workdir, ignore_errors=True)

    jobs = {
        "baseline": lambda: fresh(1),
        "buffered": lambda: fresh(4),
        "midrun_resume": lambda: interrupted(1, 3),
        "buffered_resume": lambda: interrupted(3, 4),
    }
    with ThreadPoolExecutor(max_workers=4) as ex:
        futs = {k: ex.submit(fn) for k, fn in jobs.items()}
        out = {k: f.result() for k, f in futs.items()}
    out["corpus"] = corpus
    yield out


@pytest.fixture(scope="session")
def spark():
    from pholcus_spark.session import build_spark

    extra = {}
    if os.environ.get("PHOLCUS_TEST_NO_AQE"):
        extra["spark.sql.adaptive.enabled"] = "false"
    s = build_spark(
        "pholcus-tests", parallelism=8, shuffle_partitions=8, extra_conf=extra
    )
    yield s
    s.stop()
