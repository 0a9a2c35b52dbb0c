"""Single-thread kernel probes and the held-out-key Bloom probe.

Each probe runs on the workload's own inputs in the benchmark process
(no Spark task), reports a per-item median and its sample count.
"""

from __future__ import annotations

import hashlib
import os
import time

from perfbench.harness import median

REPEATS = 5
HELD_OUT = 20_000


def _per_item_us(fn, items) -> float:
    """Median over REPEATS passes of the per-item time of ``fn(items)``."""
    samples = []
    for _ in range(REPEATS):
        t0 = time.perf_counter()
        fn(items)
        samples.append((time.perf_counter() - t0) / max(1, len(items)) * 1e6)
    return median(samples)


def canonicalize(urls: list[str]) -> dict:
    from pholcus_spark.keys import canonicalize_url

    def run(xs):
        for u in xs:
            canonicalize_url(u)

    return {"keys.canonicalize_us": _per_item_us(run, urls), "keys.canonicalize_n": float(len(urls))}


def parse(pages: list[dict]) -> dict:
    import pandas as pd

    from pholcus_spark.extract import parse_pages_kernel

    kernel = parse_pages_kernel()
    grp = pd.DataFrame(
        {
            "body": [p["body"] for p in pages],
            "content_type": [p["content_type"] for p in pages],
            "url": [p["url"] for p in pages],
            "rule": ["list"] * len(pages),
        }
    )
    return {
        "extract.parse_us": _per_item_us(kernel, grp) if len(grp) else 0.0,
        "extract.parse_n": float(len(grp)),
    }


def decode_phash(blobs: list[bytes]) -> dict:
    from pholcus_spark.imaging import decode_png, phash64

    def run(xs):
        for b in xs:
            phash64(decode_png(b))

    return {"imaging.decode_phash_us": _per_item_us(run, blobs), "imaging.decode_phash_n": float(len(blobs))}


def bloom_fpr(bench, member_keys: list[str], seed: int) -> dict:
    """Build a sidecar over ``member_keys`` with the program's default
    false-positive target (0.01), probe HELD_OUT held-out keys (md5 of
    strings no member was derived from) and report the pass rate."""
    from pyspark.sql import functions as F

    from pholcus_spark import bloom
    from pholcus_spark.keys import key_bucket_col

    spark = bench.spark
    fpp = 0.01
    held = [hashlib.md5(f"held-out:{seed}:{i}".encode()).hexdigest() for i in range(HELD_OUT)]
    buckets = 2 * bench.cores
    members = spark.createDataFrame([(k,) for k in member_keys], "key string").withColumn(
        "bucket", key_bucket_col(F.col("key"), buckets)
    )
    out = os.path.join(bench.state, "bloom-fpr", "v000001")
    sc = bloom.build_sidecar(members, buckets, out, fpp=fpp, headroom=1.0)
    probe = spark.createDataFrame([(k,) for k in held], "key string")
    passed = bloom.probe(probe, sc, "key").where("_maybe_seen").count()
    return {"bloom.fpr": passed / len(held), "bloom.fpr_n": float(len(held))}
