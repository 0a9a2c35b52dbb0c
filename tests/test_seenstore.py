"""SeenStore: incremental corpus dedup against a persistent
Bloom-accelerated fingerprint store (the url_seen machinery factored
for content keys)."""

from __future__ import annotations

from pyspark.sql import functions as F

from pholcus_spark import bloom
from pholcus_spark.ops import seenstore


def _batch(spark, texts, start_id=0):
    return spark.createDataFrame(
        [(start_id + i, t) for i, t in enumerate(texts)],
        "doc_id long, text string",
    ).withColumn("key", F.md5("text"))


def test_incremental_batches(spark, tmp_path):
    store = seenstore.SeenStore(spark, str(tmp_path / "seen"), num_buckets=8)
    b1 = _batch(spark, ["alpha", "beta", "gamma"])
    # empty store: everything passes
    assert store.filter_unseen(b1).count() == 3
    store.add(b1.select("key"))
    assert store.count() == 3
    # batch 2 overlaps batch 1 on two keys
    b2 = _batch(spark, ["beta", "gamma", "delta", "epsilon"], start_id=10)
    fresh = store.filter_unseen(b2)
    assert sorted(r.text for r in fresh.collect()) == ["delta", "epsilon"]
    store.add(fresh.select("key"))
    # batch 3 sees the union of both commits
    b3 = _batch(spark, ["alpha", "epsilon", "zeta"], start_id=20)
    assert sorted(r.text for r in store.filter_unseen(b3).collect()) == ["zeta"]
    assert store.count() == 5


def test_probe_path_engaged_after_rebuild(spark, tmp_path, monkeypatch):
    """rebuild_min=0 forces a sidecar build at the first add; later
    filter_unseen calls must go through the cogrouped Bloom probe, not
    a full-store exact join — and still answer exactly."""
    store = seenstore.SeenStore(
        spark, str(tmp_path / "seen"), num_buckets=4, rebuild_min=0
    )
    texts = [f"doc {i}" for i in range(40)]
    store.add(_batch(spark, texts).select("key"))
    assert store.seen.sidecar(store.seen.dirs()) is not None

    calls = []
    real = bloom.probe

    def spy(df, sidecar, col):
        calls.append(sidecar.path)
        return real(df, sidecar, col)

    monkeypatch.setattr(bloom, "probe", spy)
    b2 = _batch(spark, texts[:5] + ["brand new 1", "brand new 2"], start_id=100)
    fresh = store.filter_unseen(b2)
    assert sorted(r.text for r in fresh.collect()) == [
        "brand new 1", "brand new 2"
    ]
    assert calls, "sidecar probe was bypassed"


def test_reopen_from_disk(spark, tmp_path):
    root = str(tmp_path / "seen")
    store = seenstore.SeenStore(spark, root, num_buckets=4)
    store.add(_batch(spark, ["a", "b"]).select("key"))
    again = seenstore.SeenStore.open(spark, root, num_buckets=4)
    assert again.count() == 2
    assert again.filter_unseen(_batch(spark, ["b", "c"])).count() == 1


def test_compact_preserves_membership_and_rebuilds(spark, tmp_path):
    store = seenstore.SeenStore(
        spark, str(tmp_path / "seen"), num_buckets=4, rebuild_min=0
    )
    store.add(_batch(spark, [f"x{i}" for i in range(10)]).select("key"))
    store.add(_batch(spark, [f"y{i}" for i in range(10)], 100).select("key"))
    assert len(store.seen.dirs()) == 2
    store.compact()
    dirs = store.seen.dirs()
    assert len(dirs) == 1 and "compact" in dirs[0]
    # sidecar rebuilt over the compacted dir → still valid and probing
    sc = store.seen.sidecar(dirs)
    assert sc is not None and set(sc.covered_dirs) == set(dirs)
    probe_batch = _batch(spark, ["x3", "y7", "zz"], 200)
    assert sorted(
        r.text for r in store.filter_unseen(probe_batch).collect()
    ) == ["zz"]


def test_dedup_incremental_op(spark, tmp_path):
    store = seenstore.SeenStore(spark, str(tmp_path / "seen"), num_buckets=4)
    # batch-internal duplicate collapses to ONE surviving row
    b1 = _batch(spark, ["dup", "dup", "solo"])
    out1 = seenstore.dedup_incremental(b1, store)
    assert sorted(r.text for r in out1.collect()) == ["dup", "solo"]
    assert store.count() == 2
    # the commit makes the next batch see them
    b2 = _batch(spark, ["dup", "fresh"], start_id=10)
    out2 = seenstore.dedup_incremental(b2, store, commit=False)
    assert [r.text for r in out2.collect()] == ["fresh"]
    assert store.count() == 2  # commit=False added nothing


def test_re_adding_existing_keys_is_harmless(spark, tmp_path):
    store = seenstore.SeenStore(spark, str(tmp_path / "seen"), num_buckets=4)
    b = _batch(spark, ["p", "q"])
    store.add(b.select("key"))
    store.add(b.select("key"))  # duplicate commit: membership unchanged
    assert store.filter_unseen(b).count() == 0
    assert store.filter_unseen(_batch(spark, ["r"], 5)).count() == 1
