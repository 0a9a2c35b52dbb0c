"""Partitioned Bloom-filter sidecar for the url_seen set — fully
distributed, nothing driver-resident.

The reference keeps its URL-seen set as an in-memory Go hash map
(`app/aid/history/success.go:16-23`) — RAM-bound and single-process.
The north rule scales this to 10^10 keys: exact membership lives in the
bucketed ``url_seen`` table; per-bucket Bloom filters answer
"definitely unseen" so the exact anti-join only sees candidates × FPR.

Scale architecture (what changed from a driver-side sidecar): at 10^10
keys the filters total ~12.5 GB (10 bits/key) — collecting or
broadcasting them is a hard scale-killer. Instead:

* **build** — one ``applyInPandas`` task per bucket writes its bitmap
  row; the sidecar is a parquet table ``(bucket int, bitmap binary)``
  persisted next to the catalog (plus a tiny JSON meta).
* **probe** — candidates are repartitioned by ``bucket`` and cogrouped
  with the filter table, so each task loads exactly ONE bucket's bitmap
  (~12 MB at 1024 buckets) and probes its candidates vectorized.
* **freshness** — a sidecar covers an explicit list of key-table delta
  dirs (in its meta). Keys appended later are deduped with an exact
  anti-join against just those uncovered deltas (small, recent) until
  the next rebuild — the LSM pattern: bulk membership via filters,
  recent tail via exact join, periodic rebuild folds the tail.
  :class:`SeenSet` is that lifecycle, once, for the engine's
  ``url_seen`` and for ``ops.seenstore.SeenStore``.

Hash scheme (double hashing, Kirsch–Mitzenmacher): the key is already a
SHA-1 hex string; bucket = first 8 hex digits mod buckets (must match
keys.key_bucket_col), h1/h2 = the next two 64-bit halves,
position_i = (h1 + i·h2) mod m.
"""

from __future__ import annotations

import dataclasses
import json
import math
import os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType

from .catalog import SnapshotCatalog

FPP = 0.01  # target false-positive rate of a freshly built filter
HEADROOM = 2.0  # filters are sized for HEADROOM × the keys at build time
REBUILD_FRAC = 0.5  # rebuild once the tail > max(rebuild_min, this × covered)


@dataclasses.dataclass(frozen=True)
class BloomSidecar:
    """Handle to a persisted sidecar. Holds paths and parameters only —
    bitmap bytes never live on the driver."""

    path: str  # parquet dir of (bucket int, bitmap binary)
    num_buckets: int
    m_bits: int  # bits per bucket filter
    k: int  # hash functions
    n_keys: int  # keys folded in at build time
    covered_dirs: tuple[str, ...]  # url_seen delta dirs the filters cover


def _params(n_per_bucket: int, fpp: float) -> tuple[int, int]:
    n = max(n_per_bucket, 64)
    m = int(math.ceil(-n * math.log(fpp) / (math.log(2) ** 2)))
    m = ((m + 63) // 64) * 64
    k = max(1, round(m / n * math.log(2)))
    return m, k


def _positions(key: str, m: int, k: int) -> np.ndarray:
    # mask to 63 bits so arithmetic stays inside int64 (the raw 64-bit
    # halves would promote numpy to object dtype)
    h1 = int(key[8:24], 16) & 0x7FFFFFFFFFFFFFFF
    h2 = (int(key[24:40], 16) | 1) & 0x7FFFFFFFFFFFFFFF
    return np.array([(h1 + i * h2) % m for i in range(k)], dtype=np.int64)


def _build_bitmap(keys: pd.Series, m: int, k: int) -> bytes:
    bm = np.zeros(m // 8, dtype=np.uint8)
    for key in keys:
        pos = _positions(key, m, k)
        # bitwise_or.at: unbuffered, so duplicate byte indices all apply
        np.bitwise_or.at(bm, pos >> 3, (1 << (pos & 7)).astype(np.uint8))
    return bm.tobytes()


def _meta_path(path: str) -> str:
    # underscore prefix: ignored by Spark's parquet reader
    return os.path.join(path, "_bloom_meta.json")


def _pointer_path(bloom_root: str) -> str:
    return os.path.join(bloom_root, "_current.json")


def build_sidecar(
    seen: DataFrame,
    num_buckets: int,
    out_path: str,
    fpp: float = FPP,
    covered_dirs: tuple[str, ...] = (),
    headroom: float = HEADROOM,
) -> BloomSidecar:
    """Build per-bucket filters distributed (one applyInPandas group per
    bucket) and persist them as a parquet table at ``out_path``; sized
    for ``headroom ×`` the current key count so the uncovered tail can
    grow before a rebuild is forced."""
    n = seen.count()
    m, k = _params(int(n * headroom / num_buckets) + 64, fpp)

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        bucket = int(pdf["bucket"].iloc[0])
        return pd.DataFrame(
            {"bucket": [bucket], "bitmap": [_build_bitmap(pdf["key"], m, k)]}
        )

    (
        seen.select("key", "bucket")
        .groupBy("bucket")
        .applyInPandas(build, "bucket int, bitmap binary")
        .write.mode("overwrite")
        .parquet(out_path)
    )
    sidecar = BloomSidecar(
        path=out_path,
        num_buckets=num_buckets,
        m_bits=m,
        k=k,
        n_keys=n,
        covered_dirs=tuple(covered_dirs),
    )
    meta = dataclasses.asdict(sidecar)
    meta["covered_dirs"] = list(sidecar.covered_dirs)
    with open(_meta_path(out_path), "w") as f:
        json.dump(meta, f)
    pointer = _pointer_path(os.path.dirname(out_path))
    tmp = pointer + ".tmp"
    with open(tmp, "w") as f:
        json.dump(meta, f)
    os.replace(tmp, pointer)  # atomic pointer swap, like the manifest
    return sidecar


def load_sidecar(bloom_root: str) -> BloomSidecar | None:
    """Load the current sidecar handle (meta only — no bitmap I/O)."""
    pointer = _pointer_path(bloom_root)
    if not os.path.exists(pointer):
        return None
    with open(pointer) as f:
        meta = json.load(f)
    meta["covered_dirs"] = tuple(meta["covered_dirs"])
    if not os.path.exists(_meta_path(meta["path"])):
        return None
    return BloomSidecar(**meta)


def probe(df: DataFrame, sidecar: BloomSidecar, key_col: str = "key") -> DataFrame:
    """Add a boolean ``_maybe_seen`` column. False = definitely unseen
    (no exact join needed for the covered portion of url_seen).

    Cogrouped probe: candidates repartition by bucket and meet exactly
    their bucket's bitmap row — each task reads one filter, never the
    whole sidecar. All columns of ``df`` pass through unchanged.
    """
    from .keys import key_bucket_col

    spark = df.sparkSession
    filters = spark.read.parquet(sidecar.path)
    out_schema = df.schema.add("_maybe_seen", BooleanType())
    m, k = sidecar.m_bits, sidecar.k

    def _probe(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        out = left.drop(columns=["_bb"])
        if left.empty:
            out["_maybe_seen"] = pd.Series(dtype=bool)
            return out
        if right.empty:
            out["_maybe_seen"] = False
            return out
        arr = np.frombuffer(right["bitmap"].iloc[0], dtype=np.uint8)
        res = np.zeros(len(out), dtype=bool)
        for i, key in enumerate(out[key_col]):
            pos = _positions(key, m, k)
            res[i] = bool(np.all((arr[pos >> 3] >> (pos & 7)) & 1))
        out["_maybe_seen"] = res
        return out

    return (
        df.withColumn("_bb", key_bucket_col(F.col(key_col), sidecar.num_buckets))
        .groupBy("_bb")
        .cogroup(filters.groupBy("bucket"))
        .applyInPandas(_probe, out_schema)
    )


def filter_unseen(
    candidates: DataFrame,
    sidecar: BloomSidecar | None,
    covered_df: DataFrame | None,
    tail_df: DataFrame | None,
    key_col: str = "key",
) -> DataFrame:
    """Rows of ``candidates`` whose key is in neither the covered store
    portion nor the tail — the shared core of every history dedup.

    ``covered_df`` is the portion of the key store the ``sidecar``'s
    filters were built over; ``tail_df`` is everything appended since
    (small and recent). With a sidecar, definitely-unseen rows pass on
    the cogrouped per-bucket probe alone — the exact anti-join against
    ``covered_df`` is paid only by probable hits (candidates × FPR +
    true dups). Without one, the whole covered portion is exact-joined.
    The tail is always exact-joined. At 10^10 stored keys this keeps a
    batch dedup O(batch), never O(store), with no driver-resident or
    broadcast bitmap state (SURVEY.md §7.3).
    """
    if sidecar is None:
        out = candidates
        if covered_df is not None:
            out = out.join(
                covered_df.select(key_col), key_col, "left_anti"
            )
    else:
        probed = probe(candidates, sidecar, key_col)
        fresh = probed.where(~F.col("_maybe_seen")).drop("_maybe_seen")
        maybe = probed.where(F.col("_maybe_seen")).drop("_maybe_seen")
        if covered_df is not None:
            maybe = maybe.join(
                covered_df.select(key_col), key_col, "left_anti"
            )
        out = fresh.unionByName(maybe)
    if tail_df is not None:
        out = out.join(tail_df.select(key_col), key_col, "left_anti")
    return out


class SeenSet:
    """The sidecar lifecycle over one append-only key table of a
    :class:`~pholcus_spark.catalog.SnapshotCatalog`, sidecar at
    ``{catalog.root}/bloom``: the engine's ``url_seen`` and
    ``ops.seenstore.SeenStore``'s ``keys`` both run on it. Each caller
    owns the commits that append keys and reports them via :meth:`added`.

    The tail size is an estimate kept across calls, counted (one Spark
    job) only when unknown: on a fresh instance (a resumed catalog too),
    after :meth:`compact`, or once the sidecar it was measured against
    is no longer the live one."""

    def __init__(
        self, catalog: SnapshotCatalog, table: str, num_buckets: int, rebuild_min: int
    ):
        self.catalog = catalog
        self.table = table
        self.num_buckets = num_buckets
        self.rebuild_min = rebuild_min
        self.root = os.path.join(catalog.root, "bloom")
        self._tail: int | None = None  # keys outside the sidecar; None = unknown
        self._tail_of: str | None = None  # path of the sidecar it was measured against

    def dirs(self) -> list[str]:
        m = self.catalog.current()
        return list((m["tables"].get(self.table) or {}).get("dirs", [])) if m else []

    def sidecar(self, dirs: list[str]) -> BloomSidecar | None:
        """The current sidecar, read from disk, iff its coverage is
        still a subset of the live ``dirs`` (compaction invalidates
        it)."""
        sc = load_sidecar(self.root)
        if sc is not None and not set(sc.covered_dirs) <= set(dirs):
            return None
        return sc

    def _read_uncovered(self, dirs: list[str], sc: BloomSidecar | None):
        covered = set(sc.covered_dirs) if sc is not None else set()
        return self.catalog.read_dirs(self.table, [d for d in dirs if d not in covered])

    def filter_unseen(
        self, df: DataFrame, key_col: str = "key", pending=()
    ) -> DataFrame:
        """Rows of ``df`` whose key is not in the table: the covered
        dirs through the sidecar probe, the tail — uncovered dirs plus
        the caller's unflushed ``pending`` deltas — exact-anti-joined
        (:func:`filter_unseen`)."""
        dirs = self.dirs()
        sc = self.sidecar(dirs)
        tail = self._read_uncovered(dirs, sc)
        for p in pending:
            tail = p if tail is None else tail.unionByName(p)
        if sc is None:  # no covered part: read no covered dirs
            return filter_unseen(df, None, None, tail, key_col)
        covered = self.catalog.read_dirs(self.table, list(sc.covered_dirs))
        return filter_unseen(df, sc, covered, tail, key_col)

    def added(self, n: int) -> None:
        """The caller appended ``n`` keys (they join the tail). An
        unknown tail stays unknown: it is counted at the next
        :meth:`maybe_rebuild`."""
        if self._tail is not None:
            self._tail += n

    def maybe_rebuild(self) -> None:
        """Fold the tail into a fresh sidecar once it exceeds
        ``max(rebuild_min, REBUILD_FRAC × covered keys)``: one
        applyInPandas job over the whole durable table, written to
        ``bloom/v{snapshot_id:06d}``; no bitmap leaves the executors."""
        dirs = self.dirs()
        if not dirs:
            self._tail = 0
            return
        sc = self.sidecar(dirs)
        live = sc.path if sc is not None else None
        if self._tail is None or live != self._tail_of:
            tail = self._read_uncovered(dirs, sc)
            self._tail = tail.count() if tail is not None else 0
            self._tail_of = live
        covered_n = sc.n_keys if sc is not None else 0
        if self._tail <= max(self.rebuild_min, REBUILD_FRAC * covered_n):
            return
        out = os.path.join(self.root, f"v{self.catalog.current()['snapshot_id']:06d}")
        # through the module global, so a rebinding of
        # ``bloom.build_sidecar`` (perfbench's timer) sees every rebuild
        self._tail_of = build_sidecar(
            self.catalog.read(self.table), self.num_buckets, out,
            covered_dirs=tuple(dirs),
        ).path
        self._tail = 0

    def compact(self) -> None:
        """Fold the table's delta dirs into one (``catalog.compact``).
        The sidecar then covers none of the live dirs, so the tail is
        recounted and a rebuild follows if it is due."""
        self.catalog.compact(self.table)
        self._tail = None
        self.maybe_rebuild()


def contains(spark: SparkSession, sidecar: BloomSidecar, key: str) -> bool:
    """Point probe — test helper; reads a single bucket row."""
    bucket = int(key[:8], 16) % sidecar.num_buckets
    rows = (
        spark.read.parquet(sidecar.path)
        .where(F.col("bucket") == bucket)
        .collect()
    )
    if not rows:
        return False
    arr = np.frombuffer(bytes(rows[0].bitmap), dtype=np.uint8)
    pos = _positions(key, sidecar.m_bits, sidecar.k)
    return bool(np.all((arr[pos >> 3] >> (pos & 7)) & 1))
