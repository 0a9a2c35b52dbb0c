"""Incremental corpus dedup: a persistent fingerprint membership store.

At 100 TB you never re-dedup the whole corpus when a new crawl batch
lands — you probe the batch against the accumulated fingerprint set and
append the survivors. The engine already runs exactly this shape for
URLs (the 10^10-key ``url_seen`` table: bucketed parquet keys + per-
bucket Bloom sidecars + an LSM-style exact tail, SURVEY.md §7.3), and
:class:`SeenStore` runs the same lifecycle, :class:`bloom.SeenSet
<pholcus_spark.bloom.SeenSet>`, for CORPUS-level fingerprints (content
hashes, simhashes, phashes — any hex-digest key), on its own
:class:`~pholcus_spark.catalog.SnapshotCatalog` (snapshot commits,
resume, compaction, expiry).

Scale shape per batch: one ``distinct`` on the batch keys, one
cogrouped Bloom probe (definitely-unseen rows never touch the store),
one exact anti-join paid only by probable hits, one exact anti-join
against the small uncovered tail. Nothing is O(store) except the
explicitly-amortized sidecar rebuild, and nothing ever sits on the
driver.

Typical pipeline::

    store = SeenStore.open(spark, "/data/corpus-seen", num_buckets=1024)
    batch = docs.withColumn("key", F.md5("text"))
    fresh = store.filter_unseen(batch)        # new documents only
    fresh.write.parquet(...)                  # downstream curation
    store.add(fresh.select("key"))            # durable, snapshot-committed
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..bloom import SeenSet
from ..catalog import SnapshotCatalog
from ..keys import key_bucket_col

_TABLE = "keys"


class SeenStore:
    """Persistent, Bloom-accelerated membership store for hex-digest
    fingerprint keys.

    ``num_buckets`` partitions keys and sidecar filters (10^10 keys →
    1024+); ``rebuild_min`` is the engine's ``bloom_rebuild_min``: the
    uncovered exact-join tail may grow to ``max(rebuild_min,
    bloom.REBUILD_FRAC × covered)`` keys before a rebuild is forced.
    """

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        num_buckets: int = 64,
        rebuild_min: int = 1024,
    ):
        self.spark = spark
        self.catalog = SnapshotCatalog(root, spark)
        self.seen = SeenSet(self.catalog, _TABLE, num_buckets, rebuild_min)

    @classmethod
    def open(cls, spark: SparkSession, root: str, **kw) -> "SeenStore":
        """Constructor alias: opening an existing root and creating a
        fresh one are the same operation (the manifest is the source of
        truth)."""
        return cls(spark, root, **kw)

    # -- read side ---------------------------------------------------------

    def count(self) -> int:
        df = self.catalog.read(_TABLE)
        return df.count() if df is not None else 0

    def filter_unseen(self, df: DataFrame, key_col: str = "key") -> DataFrame:
        """Rows of ``df`` whose ``key_col`` is NOT in the store.

        Batch-internal duplicates are passed through untouched (the
        store answers membership, not uniqueness — apply
        ``dropDuplicates([key_col])`` first if the batch itself may
        repeat keys)."""
        return self.seen.filter_unseen(df, key_col)

    # -- write side --------------------------------------------------------

    def add(
        self,
        keys: DataFrame,
        key_col: str = "key",
        state_extra: dict | None = None,
    ) -> dict:
        """Append a batch of keys as one snapshot commit; returns the
        new manifest. The batch is deduped internally (`distinct`) but
        NOT against the store — pair with :meth:`filter_unseen` (adding
        an already-present key is harmless for membership but wastes a
        tail row until the next compaction). ``state_extra`` entries are
        merged into the committed snapshot state (e.g. a stream batch id
        for replay idempotence — :func:`streaming.seenstore_sink`).

        When the uncovered tail (counted once per store, then advanced
        by each batch) outgrows the rebuild threshold, the sidecar is
        rebuilt (:meth:`bloom.SeenSet.maybe_rebuild`)."""
        delta = (
            keys.select(F.col(key_col).alias("key"))
            .where(F.col("key").isNotNull())
            .distinct()
            .withColumn("bucket", key_bucket_col(F.col("key"), self.seen.num_buckets))
        )
        prev_state = self.catalog.state() or {}
        n_added = delta.count()
        self.catalog.commit(
            appends={_TABLE: delta},
            rewrites={},
            state={
                "n_keys": prev_state.get("n_keys", 0) + n_added,
                **(state_extra or {}),
            },
        )
        self.seen.added(n_added)
        self.seen.maybe_rebuild()
        return self.catalog.current()

    def compact(self) -> None:
        """Fold the delta dirs into one (Iceberg rewrite_data_files
        analog); the sidecar, which covered the old dirs, is rebuilt
        over the compacted table when the rebuild policy says it is
        due (:meth:`bloom.SeenSet.compact`)."""
        self.seen.compact()


def dedup_incremental(
    batch: DataFrame,
    store: SeenStore,
    key_col: str = "key",
    commit: bool = True,
) -> DataFrame:
    """One curation step: the rows of ``batch`` not yet in ``store``
    (ONE row per batch-duplicate key survives — Spark's
    ``dropDuplicates`` pick, arbitrary but stable within a run; apply a
    groupBy-min upstream for a deterministic representative), with the
    survivors' keys committed back when ``commit``.

    NOTE this materializes the survivor keys (one count job) when
    committing; call with ``commit=False`` for a pure read."""
    fresh = store.filter_unseen(batch.dropDuplicates([key_col]), key_col)
    if commit:
        store.add(fresh.select(key_col), key_col)
    return fresh
