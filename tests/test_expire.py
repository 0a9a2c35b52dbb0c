"""Snapshot expiry + orphan GC (Iceberg expire_snapshots /
remove_orphan_files analog): the storage-leak fix for long crawls —
the frontier is rewritten per commit, so without expiry every commit
strands a full frontier copy."""

from __future__ import annotations

import os

import pytest

from pholcus_spark import fixtures, testkit
from pholcus_spark.engine import EngineConfig
from pholcus_spark.spiderspec import SpiderSpec


def _frontier_dirs(root: str) -> set[str]:
    d = os.path.join(root, "frontier")
    return set(os.listdir(d)) if os.path.isdir(d) else set()


def test_expire_snapshots_gc(spark):
    corpus = fixtures.generate(
        fixtures.SiteSpec(n_hosts=1, list_pages=4, flaky_rate=0.0,
                          fail_404_rate=0.0)
    )
    run = testkit.run_engine(
        spark, corpus, SpiderSpec("site"),
        EngineConfig(wave_window_ms=6000, commit_every=1),
    )
    try:
        cat = run.catalog
        snaps_before = cat.snapshots()
        assert len(snaps_before) > 5  # commit-per-superstep accumulated
        dirs_before = _frontier_dirs(run.workdir)
        assert len(dirs_before) > 3  # one rewritten copy per commit

        def table_fingerprint(t):
            return sorted(repr(r) for r in cat.read(t).collect())

        before = {
            t: table_fingerprint(t) for t in ("url_seen", "items", "metrics")
        }
        stats = cat.expire_snapshots(keep_last=2)
        assert stats["manifests_removed"] >= len(snaps_before) - 2
        assert stats["dirs_removed"] > 0

        # current reads are bit-identical after GC
        after = {
            t: table_fingerprint(t) for t in ("url_seen", "items", "metrics")
        }
        assert after == before
        # stranded frontier copies are gone; the referenced ones remain
        dirs_after = _frontier_dirs(run.workdir)
        assert len(dirs_after) < len(dirs_before)
        referenced = {
            d.split("/", 1)[1]
            for s in cat.snapshots()
            for d in s["tables"]["frontier"]["dirs"]
        }
        cur_ref = {
            d.split("/", 1)[1]
            for d in cat.current()["tables"]["frontier"]["dirs"]
        }
        assert cur_ref <= dirs_after
        assert dirs_after <= referenced | cur_ref
        # time travel still works across the retained window
        kept = cat.snapshots()
        assert len(kept) == 2
        old = cat.read("url_seen", snapshot=kept[0])
        assert old is not None and old.count() > 0
    finally:
        run.cleanup()


def test_expire_preserves_bloom_and_staging_cleanup(spark, tmp_path):
    corpus = fixtures.generate(
        fixtures.SiteSpec(n_hosts=1, list_pages=3, flaky_rate=0.0,
                          fail_404_rate=0.0)
    )
    run = testkit.run_engine(
        spark, corpus, SpiderSpec("site"),
        EngineConfig(wave_window_ms=6000, commit_every=1,
                     bloom_rebuild_min=1),
    )
    try:
        cat = run.catalog
        bloom_dir = os.path.join(run.workdir, "bloom")
        had_bloom = os.path.isdir(bloom_dir)
        # fake a crashed python-sink staging leftover
        stale = os.path.join(run.workdir, ".staging", "images-stage-999999")
        os.makedirs(stale)
        # default age guard: a FRESH staging dir (possibly a live run's
        # pending adopt) survives a maintenance sweep
        cat.expire_snapshots(keep_last=1)
        assert os.path.exists(stale)
        # past the age threshold it is a crashed-run orphan: swept
        cat.expire_snapshots(keep_last=1, staging_min_age_s=0.0)
        if had_bloom:  # bloom sidecars survive (own lifecycle)
            assert os.path.isdir(bloom_dir) and os.listdir(bloom_dir)
        assert not os.path.exists(stale)
        # the engine can resume from the expired catalog
        assert cat.read("url_seen").count() > 0
    finally:
        run.cleanup()


def test_engine_auto_expiry(spark):
    """expire_keep_snapshots: the engine expires at each flush — a
    drained crawl retains a bounded snapshot history and full results."""
    corpus = fixtures.generate(
        fixtures.SiteSpec(n_hosts=1, list_pages=4, flaky_rate=0.0,
                          fail_404_rate=0.0)
    )
    run = testkit.run_engine(
        spark, corpus, SpiderSpec("site"),
        EngineConfig(wave_window_ms=6000, commit_every=1,
                     expire_keep_snapshots=2),
    )
    try:
        assert run.state["stopped"]
        assert len(run.catalog.snapshots()) <= 3
        assert len(_frontier_dirs(run.workdir)) <= 3
        assert run.df("url_seen").count() > 0
        assert run.df("items").count() > 0
        # resume into the expired catalog is a clean no-op
        engines = []
        run2 = testkit.run_engine(
            spark, corpus, SpiderSpec("site"),
            EngineConfig(wave_window_ms=6000, commit_every=1,
                         expire_keep_snapshots=2),
            workdir=run.workdir, engine_out=engines,
        )
        assert run2.state["stopped"]
        assert run2.state["totals"] == run.state["totals"]
    finally:
        run.cleanup()


def test_torn_history_manifest_write_keeps_previous_head(
    spark, tmp_path, monkeypatch
):
    """A commit that dies partway through writing its history manifest
    leaves no torn ``_manifest-*.json`` behind: ``snapshots()`` and
    ``expire_snapshots()`` still work, and a reopened catalog resumes
    from the previous head."""
    import builtins

    from pholcus_spark import catalog as catalog_mod
    from pholcus_spark.catalog import SnapshotCatalog

    root = str(tmp_path / "cat")
    cat = SnapshotCatalog(root, spark)
    keys = lambda a, b: spark.range(a, b).selectExpr(  # noqa: E731
        "cast(id as string) key"
    )
    cat.commit({"url_seen": keys(0, 3)}, {}, {"s": 0})

    class Torn:
        """A file whose first write lands half its data, then fails."""

        def __init__(self, f):
            self.f = f

        def write(self, data):
            self.f.write(data[: len(data) // 2])
            self.f.flush()
            raise OSError("no space left on device")

        def __enter__(self):
            return self

        def __exit__(self, *exc):
            self.f.close()

    armed = [True]

    def tearing(opener):
        def open_(*args, **kwargs):
            f = opener(*args, **kwargs)
            mode = args[1] if len(args) > 1 else kwargs.get("mode", "r")
            if armed[0] and "w" in mode:
                armed[0] = False
                return Torn(f)
            return f

        return open_

    monkeypatch.setattr(
        catalog_mod, "open", tearing(builtins.open), raising=False
    )
    monkeypatch.setattr(catalog_mod.os, "fdopen", tearing(os.fdopen))
    with pytest.raises(OSError, match="no space left"):
        cat.commit({"url_seen": keys(3, 5)}, {}, {"s": 1})
    monkeypatch.undo()

    assert [s["snapshot_id"] for s in cat.snapshots()] == [0]
    assert cat.expire_snapshots(keep_last=1)["manifests_removed"] == 0
    reopened = SnapshotCatalog(root, spark)
    assert reopened.current()["snapshot_id"] == 0
    assert reopened.state() == {"s": 0}
    seen = reopened.read("url_seen").collect()
    assert sorted(r.key for r in seen) == ["0", "1", "2"]
    # and the next commit takes the torn one's place
    reopened.commit({}, {}, {"s": 1})
    assert [s["snapshot_id"] for s in reopened.snapshots()] == [0, 1]
