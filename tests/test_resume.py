"""Checkpoint/resume: stopping after superstep k and resuming from the
catalog snapshot must produce byte-identical final results to an
uninterrupted run (north rule: resumable from snapshot checkpoints;
reference analog: success/failure history inheritance,
app/aid/history/history.go:83-159).

The engine runs live in the shared conftest `equiv_runs` pool (driven
concurrently, one uninterrupted baseline anchoring every equivalence
assertion)."""

import shutil
import tempfile

from pholcus_spark import fixtures, testkit
from pholcus_spark.catalog import SnapshotCatalog
from pholcus_spark.spiderspec import SpiderSpec
from pholcus_spark.streaming import drive_forever


def test_resume_midrun_equivalence(equiv_runs):
    chain = equiv_runs["midrun_resume"]
    # phase 1 stopped mid-crawl (simulated kill) ...
    assert chain["part_state"]["superstep"] == 3
    assert not chain["part_state"]["stopped"]
    # ... phase 2 resumed with brand-new engine+catalog objects and
    # finished byte-identical to the uninterrupted baseline
    assert chain["resumed_state"]["stopped"]
    assert chain["outputs"] == equiv_runs["baseline"]["outputs"]


def test_snapshot_history_and_time_travel(spark):
    """One snapshot per durable point: with commit_every=1 a crawl of N
    supersteps commits the seed, each superstep and the stop (N + 2);
    a second ``run()``, a ``superstep()`` and idle ``drive_forever``
    polls on the stopped engine commit nothing."""
    corpus = fixtures.generate(
        fixtures.SiteSpec(n_hosts=1, list_pages=4, flaky_rate=0, fail_404_rate=0)
    )
    engines = []
    run = testkit.run_engine(
        spark, corpus, SpiderSpec("site"), engine_out=engines
    )
    try:
        cat = run.catalog
        snaps = cat.snapshots()
        n = run.state["superstep"]
        assert n >= 2
        assert len(snaps) == n + 2
        assert [s["snapshot_id"] for s in snaps] == sorted(
            s["snapshot_id"] for s in snaps
        )
        # time travel: url_seen grows monotonically across snapshots
        sizes = []
        for s in snaps:
            df = cat.read("url_seen", snapshot=s)
            sizes.append(df.count() if df is not None else 0)
        assert sizes == sorted(sizes)
        # the manifest state at each snapshot carries the superstep counter
        assert [s["state"]["superstep"] for s in snaps] == [
            0, *range(1, n + 1), n
        ]
        assert snaps[-1]["state"]["stopped"]
        assert not any(s["state"]["stopped"] for s in snaps[:-1])
        (eng,) = engines
        assert eng.run() == run.state
        assert eng.superstep() == 0
        drive_forever(eng, lambda: [], interval_s=0, max_cycles=3)
        assert len(cat.snapshots()) == n + 2
    finally:
        run.cleanup()


def test_catalog_compaction_preserves_contents(spark):
    workdir = tempfile.mkdtemp(prefix="pholcus-cat-")
    try:
        cat = SnapshotCatalog(workdir, spark)
        df1 = spark.range(5).selectExpr("cast(id as string) key", "1 bucket")
        df2 = spark.range(5, 9).selectExpr("cast(id as string) key", "2 bucket")
        cat.commit({"url_seen": df1}, {}, {"s": 1})
        cat.commit({"url_seen": df2}, {}, {"s": 2})
        before = {r.key for r in cat.read("url_seen").collect()}
        assert len(cat.current()["tables"]["url_seen"]["dirs"]) == 2
        cat.compact("url_seen")
        assert len(cat.current()["tables"]["url_seen"]["dirs"]) == 1
        after = {r.key for r in cat.read("url_seen").collect()}
        assert before == after == {str(i) for i in range(9)}
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
