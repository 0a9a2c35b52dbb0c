"""A superstep's numbers are observations on the checkpoints it already
runs, so a branch no action ever runs would block ``Observation.get``
for good. One tiny crawl covers the empty branches: a wave with no
failures and no item or image rows, a wave where every fetch fails, and
the requeued wave whose failures turn permanent. The same crawl records
the job description at every parquet write and checkpoint: each Spark
job the engine starts carries an ``ss{N}:{phase}`` label, commit writer
threads included."""

import re
import threading

import pytest
from pyspark.sql.readwriter import DataFrameWriter

from pholcus_spark import fixtures, testkit
from pholcus_spark.engine import EngineConfig
from pholcus_spark.spiderspec import SpiderSpec

# (superstep, wave_size, fetched, failed, failed_final, items, images,
# children): the list seed fetches and emits two 404 details, which
# fail, are requeued once when the queue drains, and fail for good
EXPECTED_METRICS = [
    (1, 1, 1, 0, 0, 0, 0, 2),
    (2, 2, 0, 2, 0, 0, 0, 0),
    (3, 2, 0, 2, 2, 0, 0, 0),
]


@pytest.fixture(scope="module")
def tiny_crawl(spark):
    corpus = fixtures.generate(
        fixtures.SiteSpec(
            n_hosts=1, list_pages=1, details_per_list=2, images_per_detail=1,
            fail_404_rate=1.0, flaky_rate=0.0,
        )
    )
    sc = spark.sparkContext
    labels = []  # (where, job description in the calling thread)
    frame_cls = type(spark.range(1))
    parquet, checkpoint = DataFrameWriter.parquet, frame_cls.localCheckpoint

    def recording_parquet(self, *args, **kwargs):
        labels.append(
            ("parquet", sc.getLocalProperty("spark.job.description"))
        )
        return parquet(self, *args, **kwargs)

    def recording_checkpoint(self, *args, **kwargs):
        labels.append(
            ("checkpoint", sc.getLocalProperty("spark.job.description"))
        )
        return checkpoint(self, *args, **kwargs)

    out: dict = {}

    def crawl():
        try:
            out["run"] = testkit.run_engine(
                spark, corpus, SpiderSpec("site"),
                EngineConfig(wave_window_ms=3000, commit_every=1),
            )
        except BaseException as e:  # surfaced by the tests below
            out["error"] = e

    DataFrameWriter.parquet = recording_parquet
    frame_cls.localCheckpoint = recording_checkpoint
    try:
        # a daemon thread: an observation no action fills blocks its
        # reader forever, which must fail the tests, not hang the suite
        t = threading.Thread(target=crawl, daemon=True)
        t.start()
        t.join(timeout=600)
    finally:
        DataFrameWriter.parquet = parquet
        frame_cls.localCheckpoint = checkpoint
    assert not t.is_alive(), "crawl blocked (an observation never filled)"
    if "error" in out:
        raise out["error"]
    yield out["run"], labels
    out["run"].cleanup()


def test_empty_branches_complete_with_their_metrics(tiny_crawl):
    run, _labels = tiny_crawl
    assert run.state["stopped"] and run.state["superstep"] == 3
    metrics = sorted(
        tuple(r) for r in run.df("metrics").drop("seconds").collect()
    )
    assert metrics == EXPECTED_METRICS
    assert run.df("items") is None and run.df("images") is None
    ff = run.df("failures_final").collect()
    assert sorted(r.url for r in ff) == [
        "http://h000.test/d/0/0", "http://h000.test/d/0/1",
    ]
    assert {r.superstep for r in ff} == {3}
    assert run.state["totals"] == {
        "fetched": 1, "failed": 4, "items": 0, "images": 0,
    }


def test_every_parquet_write_and_checkpoint_is_labelled(tiny_crawl):
    _run, labels = tiny_crawl
    assert sum(where == "parquet" for where, _ in labels) > 3
    unlabelled = [
        (where, d) for where, d in labels
        if not re.fullmatch(r"ss\d+:[a-z]+", d or "")
    ]
    assert not unlabelled, unlabelled
    phases = {d.split(":")[1] for _, d in labels}
    assert {"seed", "requeue", "flush", "emit"} <= phases, phases
    assert "counts" not in phases
