"""Streaming posture (SURVEY.md §2.12): the reference is batch-iterative
(an async goroutine pool, no event time, no watermarks), and the north
rule's determinism + snapshot-resume requirements make the superstep
loop the correct Spark realization — each superstep is effectively a
`foreachBatch` micro-batch whose commit is the checkpoint.

For deployments that want a long-running process, `drive_forever` wraps
the engine in a poll loop (new seeds appended to the frontier between
drains), which is exactly the semantics Structured Streaming's
availableNow trigger would give over a seed source — without giving up
deterministic ordering.
"""

from __future__ import annotations

import time


def drive_forever(engine, seed_poll, interval_s: float = 5.0, max_cycles=None):
    """Run the engine to drain, then poll `seed_poll()` for new seed
    dicts and continue; stop after max_cycles polls (None = forever).
    An idle poll (no seeds, engine stopped) commits nothing: the
    engine's ``run()`` flushes only buffered supersteps, and ``seed()``
    commits only when called."""
    cycles = 0
    while True:
        engine.run()
        seeds = seed_poll()
        if seeds:
            # seed() unions into the existing frontier and clears the
            # stopped flag itself — state, superstep ids, and failure
            # history all survive across poll cycles
            engine.seed(seeds)
        cycles += 1
        if max_cycles is not None and cycles >= max_cycles:
            return
        time.sleep(interval_s)


def stream_table(
    spark, catalog_root: str, table: str, schema: str,
    committed_only: bool = True,
):
    """Structured-Streaming view over a catalog table's append deltas:
    each committed delta dir's parquet files are new micro-batch input
    (`readStream` file source discovers them as the crawl appends), so
    downstream monitoring — rolling fetch rates, per-host error
    windows, live dedup ratios — runs as a standard streaming query
    against the crawl while it executes. The engine itself stays
    batch-iterative (deterministic superstep commits ARE the exactly-
    once source); this is the consumer-side streaming surface.

    ``committed_only=True`` (default): the stream reads exactly the
    delta dirs listed in the manifest AT CONSTRUCTION TIME — nothing
    uncommitted, no orphan dirs from crashed commits. Pair with
    ``trigger(availableNow=True)`` to drain a snapshot's worth of data
    with exactly-once framing.

    ``committed_only=False``: a live-follow glob over ``{table}/*``
    that discovers dirs as the crawl appends. CAVEAT: a file written
    between a delta-dir write and its manifest publish (or left behind
    by a crashed commit) is visible to this mode — it trades the
    committed-only guarantee for liveness.
    """
    if committed_only:
        from ..catalog import SnapshotCatalog

        manifest = SnapshotCatalog(catalog_root, spark).current()
        dirs: list[str] = (
            (manifest["tables"].get(table) or {"dirs": []})["dirs"]
            if manifest
            else []
        )
        if not dirs:
            raise ValueError(
                f"no committed deltas for table {table!r} in {catalog_root}"
            )
        streams = [
            spark.readStream.schema(schema)
            .option("pathGlobFilter", "*.parquet")
            .parquet(f"{catalog_root}/{d}")
            for d in dirs
        ]
        out = streams[0]
        for s in streams[1:]:
            out = out.unionByName(s)
        return out
    return (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "*.parquet")
        .parquet(f"{catalog_root}/{table}/*")
    )


def windowed_event_agg(
    events, window: str, watermark: str,
    ts: str = "ts", group_cols=None, aggs=None,
):
    """Watermarked tumbling-window aggregation over a STREAMING events
    DataFrame — the streaming twin of the batch gate `q_event_windows`:
    it delegates to the same `ops.temporal.tumbling_agg`, so batch and
    stream run the identical grouping plan; the only addition here is
    `withWatermark`, which (a) lets Spark drop state for closed windows
    and (b) drops events arriving later than ``watermark`` behind the
    observed max event time — the late-data rule a 100 TB ingest needs
    to bound state.

    Append output mode emits a window only once its end passes the
    watermark (finalized); update mode emits refinements per batch.
    """
    from ..ops.temporal import tumbling_agg

    return tumbling_agg(
        events.withWatermark(ts, watermark), window,
        ts=ts, group_cols=group_cols, aggs=aggs,
    )


def dedup_stream(
    events, key_cols, ts: str = "ts", watermark: str = "10 minutes"
):
    """Streaming exact dedup over ``key_cols`` with state bounded by the
    watermark: ``dropDuplicatesWithinWatermark`` emits a key's FIRST
    occurrence and suppresses re-arrivals while the key is inside the
    late-data horizon, then expires its state — so state size is
    O(keys-per-horizon), never O(all keys ever). This is the in-flight
    duplicate guard for a live ingest feed; the crawl engine's
    url_seen anti-join + Bloom sidecar remains the right tool for the
    persistent 10^10-key membership set (an unbounded streaming
    dropDuplicates would hold all of it in executor state).
    """
    wm = events.withWatermark(ts, watermark)
    cols = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    return wm.dropDuplicatesWithinWatermark(cols)


def seenstore_sink(store, key_col: str = "key", on_fresh=None):
    """``foreachBatch`` function wiring a streaming ingest to a
    persistent :class:`~pholcus_spark.ops.seenstore.SeenStore` — the
    production shape for incremental corpus dedup over a live feed:
    each micro-batch is probed against the accumulated fingerprint set
    (Bloom-prefiltered, O(batch) work), the fresh rows are handed to
    ``on_fresh(df, batch_id)`` (the caller's downstream write), and
    their keys are snapshot-committed back.

    Replay safety (Structured Streaming may re-run a batch after a
    failure) needs no batch-id bookkeeping — the store's own state is
    the guard: ``on_fresh`` runs BEFORE the key commit, and the commit
    is skipped when the batch produced no fresh rows —

    * downstream write succeeded, key commit did not → the replay
      re-probes, gets the same fresh rows, re-runs ``on_fresh`` (the
      standard foreachBatch idempotent-sink contract) and commits;
    * key commit succeeded → the replayed batch's keys are already
      members, the probe returns nothing fresh, and the WHOLE batch is
      skipped — ``on_fresh`` included. Calling ``on_fresh`` with the
      now-empty frame would hand a downstream sink implementing the
      standard overwrite-by-batch-id idempotence pattern a different
      (empty) payload for a batch_id it already wrote, erasing that
      batch's output. (Skipping empty batches also keeps a
      duplicate-heavy steady-state feed from appending one empty delta
      dir per micro-batch forever.)

    This stays correct across checkpoint resets and even two streams
    feeding one store (each batch is judged purely by what the store
    already contains), as long as writers are serialized — the
    catalog's single-writer commit contract, same as the engine's.

    The probed batch is persisted for the duration of the call so the
    Bloom probe + anti-joins run once, not once for ``on_fresh`` and
    twice more inside :meth:`SeenStore.add`.

    Complements :func:`dedup_stream`: that bounds in-flight duplicate
    state by the watermark horizon; this is the durable 10^10-key
    membership set behind it.

    Usage::

        q = (batches.writeStream
             .foreachBatch(seenstore_sink(store, "key", write_fresh))
             .option("checkpointLocation", ckpt).start())
    """

    def fn(batch_df, batch_id):
        fresh = store.filter_unseen(
            batch_df.dropDuplicates([key_col]), key_col
        ).persist()
        try:
            # emptiness probe FIRST: a fully-replayed batch (keys already
            # committed) must not reach on_fresh with an empty frame
            if fresh.limit(1).count() == 0:
                return
            if on_fresh is not None:
                on_fresh(fresh, batch_id)
            store.add(
                fresh.select(key_col),
                key_col,
                state_extra={"last_stream_batch": batch_id},
            )
        finally:
            fresh.unpersist()

    return fn


def metrics_rate_stream(spark, catalog_root: str):
    """Rolling crawl throughput from the metrics table as a streaming
    aggregation (fetched/failed per superstep window)."""
    from pyspark.sql import functions as F

    m = stream_table(
        spark, catalog_root, "metrics",
        "superstep int, wave_size long, fetched long, failed long, "
        "failed_final long, items long, images long, children long, "
        "seconds double",
    )
    return m.groupBy(
        (F.col("superstep") / 5).cast("int").alias("window5")
    ).agg(
        F.sum("fetched").alias("fetched"),
        F.sum("failed").alias("failed"),
        F.sum("seconds").alias("seconds"),
    )
