"""The superstep crawl engine — Spark realization of the reference's
crawler loop (`app/crawler/crawler.go:85-174`) as a deterministic
batch-iterative dataflow (SURVEY.md §3.2/§7.0).

Each superstep:

1. **wave select** — politeness-budgeted top-k per host from the queued
   frontier: ``row_number() over (partition by host order by priority
   desc, seq asc) <= budget(host)`` (reference pull order
   `matrix.go:101-124`; budgets are the north-rule crawl-delay
   extension), tagging the queue in place. Every window partitions (by
   host, or by spider for the fair-share quota); no global rank over
   the wave or the frontier is ever needed — wave order is the total
   order (-priority, seq). Budgets and the robots filters read the
   robots dim, cached once per engine.
2. **fetch** — ``fetcher.fetch_meta`` (fixture equi-join, body-store
   metadata, or a live mapInPandas fetch), checkpointed once per wave.
3. **parse** — one decoded-body pass per page for links, figures and
   ExtractRule items (``fetcher.parse_pages``), checkpointed in its own
   ``ss{N}:parse`` job before any reader runs.
4. **emit** — items (checkpointed in their own ``ss{N}:emit`` job),
   validated image rows and file rows appended.
5. **push** — children (absolutized and canonicalized by the parse):
   route→robots-filter→SHA-1 key→failed-wave-position rule, then
   :meth:`CrawlEngine._push`, the one Push (`matrix.go:51-98`) that
   seeds and requeued failures go through too: anti-join vs url_seen ∪
   in-flight keys→within-batch dedup (first in push order wins)→limit
   cutoff→dense seq assignment.
6. **ack** — succeeded keys appended to url_seen (non-reloadable only,
   `matrix.go:144-154`); failures become failed_wait rows; a failure
   whose key already sits in the failure store is recorded permanently
   (`matrix.go:160-168`); when the queue drains, failed_wait rows are
   re-pushed exactly once (`matrix.go:186-202`).
7. **commit** — one catalog snapshot per flush, the resume point: every
   ``commit_every`` supersteps, and at seed, requeue and stop. Every
   snapshot holds a seed, buffered supersteps, a requeue or the stop.

A superstep's numbers (wave, ok, images, files, items, permanent
failures) are not a job of their own: each is a ``pyspark.sql.
Observation`` on a plan that a checkpoint above already runs, read once
the frontier checkpoint is done.

Within-wave dedup subtlety (pinned by the oracle): the reference
processes a wave sequentially, deleting each request's temp-history
entry as it goes. A child whose key equals a wave member that *failed*
at position j is therefore accepted only when emitted by a parent at
position i > j (temp already deleted, no success recorded); children
matching *successful* wave members are always dropped (temp before,
success history after). The engine reproduces this with a join against
failed-wave positions.
"""

from __future__ import annotations

import dataclasses
import os
import shutil
import time
from concurrent.futures import ThreadPoolExecutor
from typing import Any

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .bloom import SeenSet
from .catalog import SnapshotCatalog
from .keys import (
    canon_host_udf,
    canonicalize_url_safe,
    host_of,
    key_bucket_col,
    request_key,
    request_key_col,
)
from .session import local_frame
from .spiderspec import SpiderSpec, apply_keyin, fanout_spider_name, parse_keyins

FRONTIER_DDL = (
    "key string, spider string, rule string, url string, host string, "
    "method string, post_data string, priority int, seq long, depth int, "
    "parent_url string, tries int, retried boolean, reloadable boolean, "
    "temp map<string,string>, state string"
)
URL_SEEN_DDL = "key string, bucket int"
ORDER_DDL = "spider string, key string, url string, superstep int, wave_pos int, priority int, seq long"
_FRONTIER_COLS = [c.split(" ", 1) for c in FRONTIER_DDL.split(", ")]

# rows per task for the body-store python stages of a small wave
# (parse / attach / image sink): an empty-ish python task still costs a
# ~140 ms Arrow round trip (OPTIMIZATION_r06.md items 4-5); bulk waves
# saturate at the bucket width, so only tail waves shrink. Shuffle
# widths are left to AQE coalescing.
_ROWS_PER_TASK = 64
# host crawl delay when the robots dim has none (or 0): 1.25 × the
# reference's Pausetime of 300 ms
_DEFAULT_CRAWL_DELAY_MS = 375


def frontier_rows(df: DataFrame, **cols) -> DataFrame:
    """``df`` projected onto the frontier schema (``FRONTIER_DDL``):
    each column is ``cols[name]`` (a Column or a literal) when given,
    else ``df``'s column of that name, cast to the frontier type."""
    return df.select(
        *[
            F.lit(cols.get(name, F.col(name))).cast(dtype).alias(name)
            for name, dtype in _FRONTIER_COLS
        ]
    )


def paginate_expand(src: DataFrame, pr) -> DataFrame:
    """The PaginateRule count→pages→URL expansion, as a standalone
    DataFrame transform (shared by the engine's ``_paginate_children``
    and the DuckDB correctness gate). Input rows carry ``_data``
    (map<string,string> — the extracted item) and ``parent_url``;
    output explodes one row per page ``start..min(count, max_pages)``
    with ``_page`` (int) and ``raw_link`` columns appended. Non-numeric
    or missing counts expand to zero pages (strconv.Atoi err branch,
    miyabaobei.go:96). All whole-stage codegen: try_cast + sequence +
    format_string — no driver loop, no Python."""
    cnt = F.col("_data").getItem(pr.count_field).try_cast("int")
    last = (
        F.least(cnt, F.lit(pr.max_pages))
        if pr.max_pages is not None
        else cnt
    )
    # guards: sequence(a, b) with b < a steps DOWNWARD in Spark — an
    # exhausted range must be empty, not reversed; and least() SKIPS
    # nulls (least(NULL, max_pages) = max_pages), so the non-numeric-
    # count case must be gated on cnt itself or it would expand to
    # max_pages pages instead of zero (caught by gate q_paginate_expand)
    pages = F.when(
        cnt.isNotNull() & (last >= F.lit(pr.start)),
        F.sequence(F.lit(pr.start), last),
    ).otherwise(F.array().cast("array<int>"))
    out = src.select("*", F.explode(pages).alias("_i"))
    # affine page numbering (page_expr, jdSpider.go:84-97 dual-URL
    # loops): '%d' receives mult*i + add; default (1,0) = i itself
    mult, add = getattr(pr, "page_expr", (1, 0)) or (1, 0)
    out = out.withColumn(
        "_page", (F.col("_i") * F.lit(mult) + F.lit(add)).cast("int")
    ).drop("_i")
    # nullif: an EMPTY base (e.g. a temp_fields merge writing '' for a
    # missing temp) must fall back like a missing one — a bare coalesce
    # passed '' through and format_string built garbage '&page=N' URLs
    # (the oracle twin's `or req.url` already treated '' as missing)
    base = (
        F.coalesce(
            F.nullif(
                F.col("_data").getItem(pr.base_field), F.lit("")
            ),
            F.col("parent_url"),
        )
        if pr.base_field is not None
        else F.col("parent_url")
    )
    raw = (
        F.format_string(pr.url_template, base, F.col("_page"))
        if "%s" in pr.url_template
        else F.format_string(pr.url_template, F.col("_page"))
    )
    return out.withColumn("raw_link", raw)


def canonical_split(df: DataFrame, src_col: str) -> DataFrame:
    """Add ``curl`` (canonical URL) + ``host`` columns, the pair
    :func:`keys.canon_host` gives, through one vectorized UDF; rows
    whose URL is malformed canonicalize to NULL curl (caller filters).

    For URLs built in the JVM: :meth:`CrawlEngine.seed_urls_df` and
    the PaginateRule rows. Links parsed from pages arrive canonical
    from the parse kernel (``extract.parse_pages_kernel``), with the
    same pair."""
    return (
        # repartition BY COLUMN (no fixed count): the input's width
        # (one partition per body-store bucket, a range's default
        # parallelism) says nothing about its row count, and a python
        # task costs a ~140 ms worker round trip even at 0 rows. A
        # column shuffle lets AQE size python parallelism by the DATA:
        # a few rows coalesce to one partition, a large batch fans out.
        df.repartition(F.col(src_col))
        .withColumn("_ch", canon_host_udf(src_col))
        .withColumns({"curl": F.col("_ch.curl"), "host": F.col("_ch.host")})
        .drop("_ch")
    )


def _count_pushes(state: dict, n: int) -> None:
    """Advance the seq counter and the limit guard (matrix.go:97: each
    accepted push counts) by ``n`` accepted pushes."""
    state["next_seq"] += n
    if state["max_page"] is not None:
        state["max_page"] += n


def _observed(
    df: DataFrame, **aggs: Column
) -> tuple[DataFrame, Observation]:
    """``df`` with the named aggregates observed on it, and the
    Observation whose ``get`` returns them after the first action that
    runs ``df``. ``get`` blocks until such an action has run, so observe
    only plans that run every superstep, and only in the result stage
    of the action that runs them first (above every exchange: a re-run
    shuffle-map stage may count twice)."""
    obs = Observation()
    return df.observe(obs, *[c.alias(k) for k, c in aggs.items()]), obs


def _dlt():
    """DownloadTime provenance (DataCell, `app/pipeline/collector/data/
    data.go:9-13`): wall-clock fetch time as the reference's formatted
    string. Provenance only — never part of a conformance or oracle
    comparison (it is the one intentionally non-deterministic column)."""
    return F.date_format(F.current_timestamp(), "yyyy-MM-dd HH:mm:ss")


def release(df: DataFrame) -> None:
    """Free the executor storage behind ``df`` — the one release path
    for every cache and checkpoint the engine owns.

    ``DataFrame.unpersist`` only drops cache-manager entries, so on a
    ``localCheckpoint`` frame it is a no-op and the checkpoint blocks
    stay until JVM GC. A checkpoint's analyzed plan is a ``LogicalRDD``
    over the checkpointed RDD; that RDD is unpersisted directly. Pass
    the handle ``persist``/``localCheckpoint`` returned, not a
    projection of it."""
    df.unpersist()
    plan = df._jdf.queryExecution().analyzed()
    if plan.getClass().getSimpleName() == "LogicalRDD":
        plan.rdd().unpersist(False)


def two_phase_rank(
    df: DataFrame, order: list, out_col: str, checkpoint,
) -> tuple[DataFrame, int]:
    """Global ``row_number`` over `order` as ``out_col``, with no
    single-partition exchange, window or join. Returns the ranked frame
    and its row count.

    One sort: range-repartition on the sort key, sort within each range
    partition and materialize the result once through ``checkpoint``
    (an eager localCheckpoint whose release the caller owns). The range
    width is the session's shuffle width, and AQE may merge adjacent
    small ranges. Inside that plan ``monotonically_increasing_id``
    packs the row's range partition (high 31 bits) and its position in
    it (low 33 bits), so it holds under any coalescing. The driver
    collects the per-partition row counts (one row per range
    partition), and a row's rank is the row count of the partitions
    before its own (a literal array) plus its position + 1. The sort
    key must be unique per row, so the rank is the single-window rank
    wherever the range boundaries fall; ``repartitionByRange`` samples
    them afresh per execution, and the one materialization is what
    every reader, counts included, sees.
    """
    ck = checkpoint(
        df.repartitionByRange(*order)
        .sortWithinPartitions(*order)
        .withColumn("_mid", F.monotonically_increasing_id())
    )
    pid = F.shiftright(F.col("_mid"), 33)
    counts = dict(ck.groupBy(pid).count().collect())
    offsets, total = [], 0
    for p in range(max(counts, default=-1) + 1):
        offsets.append(total)
        total += counts.get(p, 0)
    offset = F.element_at(
        F.array(*[F.lit(o) for o in offsets]).cast("array<long>"),
        (pid + 1).cast("int"),
    )
    pos = F.col("_mid").bitwiseAND(F.lit((1 << 33) - 1))
    return ck.withColumn(out_col, offset + pos + 1).drop("_mid"), total


@dataclasses.dataclass
class EngineConfig:
    wave_window_ms: int = 1500
    num_buckets: int = 64  # url_seen bucketing (10^10 scale → 1024+)
    # golden-order table: ranks wave_pos with an UNPARTITIONED window
    # over each wave where the table is appended — a single-partition
    # exchange no production plan should contain. Off by default;
    # conformance fixtures opt in (the order table is a test
    # instrument, not an output).
    record_order: bool = False
    # url_seen Bloom sidecar rebuild policy (bloom.SeenSet, LSM-style):
    # the filters cover url_seen up to their build snapshot; newer keys
    # are exact-anti-joined until the uncovered tail exceeds
    # max(min, bloom.REBUILD_FRAC × covered), then the sidecar is
    # rebuilt at the next flush. Lower it to force the probe path at
    # fixture scale (conformance tests do); a value never reached
    # keeps every dedup on the exact anti-join.
    bloom_rebuild_min: int = 1024
    # retain at most this many historical snapshots, expiring older
    # manifests + unreferenced data dirs at each flush (0 = keep all).
    # A long crawl REWRITES the frontier per commit, so without expiry
    # storage grows by one full frontier copy per superstep.
    expire_keep_snapshots: int = 0
    # commit (flush) the catalog every N supersteps. 1 = a durable
    # snapshot per superstep (finest resume grain). >1 buffers append
    # deltas in executor caches and flushes them in one commit —
    # resume replays from the last flushed snapshot (deterministic →
    # identical results), trading resume granularity for a large cut in
    # per-superstep Spark-job count. Flushes are forced at seed, stop,
    # failure-requeue, and run() exit with supersteps buffered.
    commit_every: int = 1
    # fair-share quota: max wave rows per spider, applied to the
    # host-budgeted wave (reference scheduler.go:92-99 avgRes slot cap).
    # None = unlimited (single-spider runs).
    per_spider_quota: int | None = None
    # file sizing: waves are bounded (hosts × budget), so per-superstep
    # append deltas are written with few partitions to keep task-scheduling
    # overhead and small-file count down; scale with expected wave size
    append_partitions: int = 2
    frontier_partitions: int = 8
    # User-Agent assignment for live fetchers (surfer/param.go:85-95):
    # None = no UA column (transport default), "fixed" = pin the first
    # common UA (the reference's cookie-enabled branch), "rotate" =
    # deterministic per-request-key rotation over the common pool.
    ua_mode: str | None = None
    # when the engine was given a proxy-dim BUILDER, re-probe the pool
    # every N supersteps (proxy.go:162-173 UpdateTicker re-sorts the
    # pool each period); 0 = build once at the first wave and keep it
    proxy_refresh_every: int = 0
    # python-side images sink: when the fetcher exposes a body store
    # (StoreFetcher), decode+validate+write image rows inside the python
    # task that reads the bytes — body bytes never cross the JVM<->Python
    # Arrow bridge (the non-scaling layer in BENCH/BASELINE.md §3); the
    # catalog adopts the task-written parquet rows at commit.
    python_image_sink: bool = False


class CrawlEngine:
    def __init__(
        self,
        spark: SparkSession,
        catalog: SnapshotCatalog,
        fetcher,
        spec: SpiderSpec,
        robots: DataFrame | None,
        config: EngineConfig | None = None,
        proxy_dim: DataFrame | None = None,
    ):
        self.spark = spark
        self.catalog = catalog
        self.fetcher = fetcher
        self.spec = spec
        self.config = config or EngineConfig()
        # latency-sorted proxy pool dim (proxy.build_proxy_dim) — waves
        # rotate through it per superstep; None = direct fetch. A
        # CALLABLE (superstep -> DataFrame) is the reference's
        # UpdateTicker re-probe cycle (proxy.go:162-173): the engine
        # invokes it at the first wave and again every
        # config.proxy_refresh_every supersteps, so pool membership and
        # latency ranks track the live network while each wave still
        # sees one immutable broadcast dim.
        self._proxy_builder = proxy_dim if callable(proxy_dim) else None
        self.proxy_dim = None if callable(proxy_dim) else proxy_dim
        self._proxy_built_at: int | None = None
        if robots is None:
            robots = local_frame(
                spark, [], "host string, disallow_prefixes array<string>, crawl_delay_ms long"
            )
        # allow_prefixes is optional in the dim (legacy all-Disallow
        # shape) — disallow_filter applies RFC 9309 longest-match-wins
        # when it is present
        rcols = ["host", "disallow_prefixes", "crawl_delay_ms"]
        if "allow_prefixes" in robots.columns:
            rcols.insert(2, "allow_prefixes")
        # cached for the engine's lifetime (O(hosts) rows, never
        # released): the seed filter, every wave join and every children
        # filter read it, and its lineage may be a live robots.txt fetch
        # (robots.fetch_robots_dim) that must not re-run per read
        self.robots = robots.select(*rcols).persist()
        # FileOutput rules (rule -> nameOrExt): raw-body outputs, never
        # parsed as pages
        self._file_rules = {
            fr.rule: fr.name_or_ext for fr in getattr(spec, "file_rules", ()) or ()
        }
        # url_seen membership: Bloom-probed covered dirs + exact tail
        self._seen = SeenSet(
            catalog, "url_seen", self.config.num_buckets,
            self.config.bloom_rebuild_min,
        )
        # the in-memory frontier (:meth:`_set_frontier`); dirty until
        # the next flush commits it
        self._frontier_df = None
        self._frontier_dirty = False
        # commit_every>1 buffering: per-table pending append deltas, the
        # caches backing them (unpersisted only after flush), and the
        # in-memory engine state between durable commits
        self._state: dict | None = None
        self._pending: dict[str, list[DataFrame]] = {}
        self._pending_release: list[DataFrame] = []
        # python-sink staging: (manifest_df, stage_dir, rel_dir) per table;
        # manifests are forced (running the sink tasks) then the dirs
        # are adopted by the same catalog commit
        self._pending_adopt: dict[str, list[tuple[DataFrame, str, str]]] = {}
        self._steps_since_flush = 0
        # cookie session store (fetcher.enable_cookie): host → {name:
        # value}. The distributed form of the reference's process-wide
        # cookiejar (`downloader_surfer.go:6,21-23`): state lives on the
        # DRIVER (tasks stay stateless/retryable), flows out per wave as
        # a broadcast host→header dim and back in as harvested
        # Set-Cookie rows (only hosts that set cookies — O(changed
        # hosts) per wave). Session-scoped, like the reference: not
        # persisted to the catalog across engine restarts.
        self._cookie_store: dict[str, dict[str, str]] = {}
        # lazily probed: does the robots dim carry any non-empty
        # disallow list? (guide §2.4: an all-empty dim makes the
        # per-superstep robots join an identity — skip it outright;
        # Allow lists alone cannot block, they only carve out)
        self._robots_active: bool | None = None

    def _proxy_dim_for(self, superstep: int) -> DataFrame | None:
        """Resolve the proxy dim for this wave. Static dim: returned
        as-is. Builder: (re)invoked at the first wave and thereafter
        whenever ``config.proxy_refresh_every`` supersteps have passed
        since the last probe — the engine-paced analog of the
        reference's UpdateTicker re-probe (`proxy.go:162-173`,
        `proxy.go:199-233` testAndSort per period)."""
        if self._proxy_builder is None:
            return self.proxy_dim
        every = self.config.proxy_refresh_every
        stale = (
            self._proxy_built_at is None
            or (every > 0 and superstep - self._proxy_built_at >= every)
        )
        if stale:
            self.proxy_dim = self._proxy_builder(superstep)
            self._proxy_built_at = superstep
        return self.proxy_dim

    # ------------------------------------------------------------------
    # seeding
    # ------------------------------------------------------------------

    def seed(self, seeds: list[dict]) -> None:
        """Push the seed list into the frontier (keyin fan-out per
        `spiderqueue.go:56-90`; robots/dedup/limit apply like any push).

        Fresh catalog: initializes snapshot 0. Non-empty catalog: the new
        seeds are UNIONED into the existing frontier — superstep ids,
        seq counter, totals, and failure-state rows are all preserved
        (the reference inherits success AND failure history on re-run,
        `history.go:83-159`, `matrix.go:40-46`; rewriting state here
        would hand already-failed URLs a fresh retry cycle and collide
        superstep ids in the append-only tables). Seed lists are
        driver-scale by definition — the row build is plain Python; for
        GENERATED seed sets (page ranges, id sweeps — anything you'd
        produce with a loop) use :meth:`seed_range`, which builds the
        rows distributed via ``spark.range`` and never materializes
        them on the driver.
        """
        state = self._seed_prelude()
        rows = []
        for s in seeds:
            # method/post_data flow through to the frontier row (and the
            # dedup key, which hashes method) — HtmlForm.submit() dicts
            # seed POST / POST-M requests as-is; both fetchers encode
            # the body from these fields
            method = (s.get("method", "GET") or "GET").upper()
            post_data = s.get("post_data", "") or ""
            # seed Temp carry (baidunews.go:96-103 AddQueue from Root
            # with Temp {"src": k}): rides the frontier row and merges
            # into items via temp_fields like any request temp
            for k in parse_keyins(s.get("keyin", "") or "") or [""]:
                # keyin tokens substitute in temp VALUES too (the
                # reference builds Temps from keyin-derived locals,
                # googlesearch.go:89 / alibaba's paginate base)
                temp = {
                    tk: apply_keyin(str(tv), k)
                    for tk, tv in (s.get("temp") or {}).items()
                }
                url = canonicalize_url_safe(apply_keyin(s["url"], k))
                if url is None:
                    # a malformed seed drops like a malformed href
                    # (common.go:178-196 MakeUrl ok=false); the rest of
                    # the list still seeds
                    continue
                spider = fanout_spider_name(s["spider"], k)
                host = host_of(url)
                key = request_key(spider, s["rule"], url, method)
                reloadable = url in self.spec.reloadable_urls
                rows.append(
                    (
                        key, spider, s["rule"], url, host, method,
                        post_data,
                        int(s.get("priority", 0)), len(rows), 0, None,
                        0, False, reloadable, temp, "queued",
                    )
                )
        new_df = local_frame(self.spark, rows, FRONTIER_DDL)
        # robots disallow via the broadcast dim (shared with seed_range /
        # push path) — never a driver-side collect() of the robots table,
        # which at web scale is a millions-of-hosts dim
        new_df = self._robots_disallow_filter(new_df, "url")
        self._merge_new_frontier(new_df, state)

    def _robots_disallow_filter(self, df: DataFrame, url_col: str) -> DataFrame:
        """Drop rows whose URL path matches a robots disallow prefix for
        its host (broadcast-dim equi-join; `df` must carry a `host`
        column). Delegates to :func:`robots.disallow_filter` — the
        oracle-gated standalone form (`q_robots_filter`). A dim with no
        non-empty disallow list anywhere is a proven identity (RFC 9309
        permissive default; Allow-only rules cannot block) — probed
        ONCE per engine, then the per-superstep join is skipped."""
        if self._robots_active is None:
            self._robots_active = bool(
                self.robots.where(
                    F.size(
                        F.coalesce(
                            F.col("disallow_prefixes"),
                            F.array().cast("array<string>"),
                        )
                    )
                    > 0
                ).head(1)
            )
        if not self._robots_active:
            return df
        from . import robots as robots_mod

        return robots_mod.disallow_filter(df, self.robots, url_col)

    def seed_range(
        self,
        url_format: str,
        start: int,
        stop: int,
        rule: str,
        spider: str,
        priority: int = 0,
        temp: dict | None = None,
    ) -> None:
        """Aid-loop page-range seeding (the reference's AidFunc loop,
        `spider.go:57`, e.g. `sample/static_rules/qq_avatar/avatar.go:40-59`:
        Root asks an aid rule to enqueue index_0..index_n URLs from a
        template) as a DISTRIBUTED source: ``spark.range(start, stop)``
        + ``format_string`` generate the URLs executor-side, so a
        10^10-entry range seeds the frontier without ever materializing
        a driver-side list (the reference's for-loop, and our ``seed()``,
        are driver-bound by construction). ``url_format`` is a
        printf-style template receiving the index, e.g.
        ``"http://h.test/page/%d"``. ``temp`` rides every generated
        request (the reference's per-AddQueue ``Temp``/``Header`` in a
        Root loop, weibo_fans.go:57-72 — e.g. a keyin-sourced
        ``{"hdr:Cookie": ...}`` session header).
        """
        gen = (
            self.spark.range(start, stop)
            .select(
                F.format_string(url_format, F.col("id")).alias("raw_url"),
                (F.col("id") - F.lit(start)).alias("_ord"),
            )
        )
        self.seed_urls_df(
            gen, rule=rule, spider=spider, priority=priority, temp=temp
        )

    def seed_urls_df(
        self,
        urls: DataFrame,
        rule: str,
        spider: str,
        priority: int = 0,
        temp: dict | None = None,
    ) -> None:
        """Seed the frontier from ANY DataFrame of URLs — the general
        distributed-seeding form behind :meth:`seed_range` (template
        ranges) and :func:`sitemap.fetch_sitemap_urls` (sitemap
        ingestion). ``urls`` carries ``raw_url`` plus an optional
        ``_ord`` long column fixing FIFO order within the batch
        (missing → canonical URL order). Robots, history dedup, and the
        in-batch first-wins dedup all apply exactly as in every other
        push path; nothing materializes on the driver."""
        state = self._seed_prelude()
        reload_list = list(self.spec.reloadable_urls)
        has_ord = "_ord" in urls.columns
        gen = urls.select("raw_url", *(["_ord"] if has_ord else []))
        gen = canonical_split(gen, "raw_url").where(F.col("curl").isNotNull())
        # robots disallow (same broadcast-dim filter as the push path)
        gen = self._robots_disallow_filter(gen, "curl")
        new_df = frontier_rows(
            gen,
            key=request_key_col(
                F.lit(spider), F.lit(rule), F.col("curl"), F.lit("GET")
            ),
            spider=spider,
            rule=rule,
            url=F.col("curl"),
            method="GET",
            post_data="",
            priority=priority,
            seq=F.col("_ord") if has_ord else None,
            depth=0,
            parent_url=None,
            tries=0,
            retried=False,
            reloadable=F.col("curl").isin(reload_list) if reload_list else False,
            temp=F.create_map(
                *[F.lit(str(x)) for kv in sorted((temp or {}).items()) for x in kv]
            ),
            state="queued",
        )
        self._merge_new_frontier(new_df, state)

    def _seed_prelude(self) -> dict:
        """The state a seed merges into: the current one (buffered
        supersteps included: the seed's flush commits them with it), or
        a fresh catalog's initial state. The seed's jobs that follow are
        labelled ``ss{N}:seed``."""
        if self.catalog.state() is None:
            limit = self.spec.limit
            self._state = {
                "superstep": 0,
                "next_seq": 0,
                # limit guard (matrix.go:59-61,97): -limit, +1 per push
                "max_page": -limit if limit is not None else None,
                "queued_count": 0,
                "failed_wait_count": 0,
                "stopped": False,
                "totals": {"fetched": 0, "failed": 0, "items": 0, "images": 0},
            }
        self._describe(self._state_ref()["superstep"], "seed")
        return self._state

    def _merge_new_frontier(self, new_df: DataFrame, state: dict) -> None:
        """Push seed rows in seq order (after the caller's robots filter:
        a blocked row must not shadow an allowed duplicate) into the
        frontier, with the still-queued keys in flight, and commit it.
        Rows of an orderless source (null seq) push in URL order."""
        old = (
            self._frontier_df
            if self._frontier_df is not None
            else self.catalog.read("frontier")
        )
        in_flight = (
            old.where(F.col("state") == "queued").select("key")
            if old is not None
            else None
        )
        pushed, n = self._push(
            new_df, [F.asc("seq"), F.asc("url")], in_flight, state
        )
        self._set_frontier(pushed if old is None else old.unionByName(pushed))
        _count_pushes(state, n)
        state.update(
            queued_count=state["queued_count"] + n,
            stopped=state["stopped"] and n == 0,
        )
        self._flush(state)

    # ------------------------------------------------------------------
    # superstep loop
    # ------------------------------------------------------------------

    def _state_ref(self) -> dict:
        if self._state is None:
            self._state = dict(self.catalog.state())
        return self._state

    def run(self, max_supersteps: int | None = None) -> dict[str, Any]:
        """Run supersteps until the crawl stops or the state reaches
        ``max_supersteps``, then flush the supersteps still buffered
        (``commit_every`` > 1), the durable pause point. A run that
        buffered nothing, such as one on a stopped engine, commits
        nothing. Returns the committed state."""
        while True:
            state = self._state_ref()
            if state["stopped"]:
                break
            if max_supersteps is not None and state["superstep"] >= max_supersteps:
                break
            self.superstep()
        if self._steps_since_flush:
            self._flush(self._state_ref())
        return self.catalog.state()

    def superstep(self) -> int:
        """Run one wave. Returns the wave size (0 = terminated).

        On an empty queue it runs no wave: failed_wait rows are requeued
        once (:meth:`_requeue_failures`, which commits) and the wave
        after runs, or the crawl stops in one flush that also commits
        the supersteps still buffered; a stopped engine commits nothing
        more. Shuffle widths are the session's, coalesced by AQE: the
        engine sets no session conf."""
        state = self._state_ref()
        frontier = (
            self._frontier_df
            if self._frontier_df is not None
            else self.catalog.read("frontier")
        )

        # <=: a drifted counter — e.g. a fetcher answering one request
        # with several rows — must still terminate, never spin on an
        # empty frontier
        if state["queued_count"] <= 0:
            if state["failed_wait_count"] > 0:
                self._requeue_failures(state, frontier)
                return self.superstep() if not state.get("stopped") else 0
            if not state["stopped"]:
                state["stopped"] = True
                self._flush(state)
            return 0
        n = self._run_superstep(state, frontier)
        self.spark.sparkContext.setJobDescription(None)
        return n

    def _describe(self, superstep: int, phase: str) -> None:
        """Label the Spark jobs that follow as ``ss{N}:{phase}``, so the
        event log and UI attribute their cost to a superstep phase."""
        self.spark.sparkContext.setJobDescription(f"ss{superstep}:{phase}")

    def _checkpoint(self, df: DataFrame) -> DataFrame:
        """Eager localCheckpoint owned by this superstep: released (see
        :func:`release`) at the flush that commits the plans reading it.
        Truncating lineage here keeps the many downstream Dataset
        creations analyzing a one-leaf tree instead of re-walking the
        frontier + wave-select + fetch plan each time."""
        ck = df.localCheckpoint(eager=True)
        self._pending_release.append(ck)
        return ck

    def _run_superstep(self, state: dict, frontier: DataFrame) -> int:
        """The superstep as a sequence of named phases: wave → fetch →
        parse → emit → children → frontier → commit. Each phase that
        runs Spark jobs labels them ``ss{N}:{phase}``. The counts come
        from the observations of the fetch, emit and frontier
        checkpoints; the push knows its own."""
        t0 = time.time()
        cfg = self.config
        superstep = state["superstep"] + 1
        # python body-stage width for this superstep: queue depth is a
        # (pre-wave) upper bound on every body batch below — size the
        # body-store mapInPandas stages by DATA, not by bucket width
        py_tasks = -(-max(1, state["queued_count"]) // _ROWS_PER_TASK)
        tagged = self._select_wave(
            frontier.where(F.col("state") == "queued"), superstep
        )
        wave = tagged.where(F.col("_wv")).drop("_wv")
        rest = tagged.where(~F.col("_wv")).drop("_wv")
        others = frontier.where(F.col("state") != "queued")

        fetched, fetch_counts = self._fetch(wave, superstep)
        parsed = self._parse(fetched, superstep, py_tasks)
        out, item_counts = self._emit(parsed, fetched, superstep, py_tasks)
        new_seen = fetched.where(F.col("ok")).where(~F.col("reloadable")).select(
            "key"
        )
        failed_first, perm_failed, new_failed_wait, perm_counts = (
            self._ack_failures(fetched, others, superstep)
        )
        kept, n_children = self._push_children(
            parsed, new_seen, rest, failed_first, state, superstep
        )
        self._next_frontier(rest, others, kept, new_failed_wait, superstep)
        n = {**fetch_counts.get, **item_counts.get, **perm_counts.get}
        n["children"] = n_children

        # -- commit: skip appends known to be empty (each is a Spark job)
        lineage = (
            fetched.groupBy("host")
            .agg(
                F.count("*").alias("fetched"),
                F.sum(F.col("ok").cast("int")).alias("succeeded"),
            )
            .withColumn("superstep", F.lit(superstep))
        )
        n_failed = n["wave"] - n["ok"]
        metrics = local_frame(
            self.spark,
            [
                (
                    superstep, n["wave"], n["ok"], n_failed, n["perm"],
                    n["items"], n["images"], n["children"],
                    float(time.time() - t0),
                )
            ],
            "superstep int, wave_size long, fetched long, failed long, "
            "failed_final long, items long, images long, children long, "
            "seconds double",
        )
        appends = {"metrics": metrics}
        if n["wave"] > 0:
            appends["lineage"] = lineage
        if n["ok"] > 0:
            appends["url_seen"] = new_seen.withColumn(
                "bucket", key_bucket_col(F.col("key"), cfg.num_buckets)
            )
        if n["items"] > 0:
            appends["items"] = out["items"]
        if n["files"] > 0:
            appends["files"] = out["files"]
        if n["images"] > 0 and out["images"] is not None:
            appends["images"] = out["images"]
        elif n["images"] > 0:
            self._stage_image_sink(out["image_meta"], superstep, py_tasks)
        if n["perm"] > 0:
            appends["failures_final"] = perm_failed
        if cfg.record_order and n["wave"] > 0:
            # golden-order table (test instrument): the only place the
            # global wave position is ranked — an unpartitioned window
            # over the wave, never part of wave selection
            appends["order"] = wave.select(
                "spider", "key", "url",
                F.lit(superstep).alias("superstep"),
                (
                    F.row_number().over(
                        Window.orderBy(F.desc("priority"), F.asc("seq"))
                    ) - 1
                ).cast("int").alias("wave_pos"),
                "priority", "seq",
            )
        _count_pushes(state, n["children"])
        state.update(
            superstep=superstep,
            # an EMPTY wave despite queued_count > 0 is counter drift
            # (selection takes a non-empty prefix whenever any queued
            # row exists — budget >= 1 per host): trust the frontier,
            # not the counter, or the loop would spin forever
            queued_count=(
                n["children"]
                if n["wave"] == 0
                else state["queued_count"] - n["wave"] + n["children"]
            ),
            failed_wait_count=state["failed_wait_count"] + (n_failed - n["perm"]),
        )
        totals = state["totals"]
        totals["fetched"] += n["ok"]
        totals["failed"] += n_failed
        totals["items"] += n["items"]
        totals["images"] += n["images"]
        if self._file_rules:
            # resume-safe: older checkpoints predate the files counter
            totals["files"] = totals.get("files", 0) + n["files"]
        for name, df in appends.items():
            self._pending.setdefault(name, []).append(
                df.coalesce(cfg.append_partitions)
            )
        self._seen.added(n["ok"])
        self._steps_since_flush += 1
        if self._steps_since_flush >= cfg.commit_every:
            self._flush(state)
        return n["wave"]

    def _select_wave(self, queued: DataFrame, superstep: int) -> DataFrame:
        """Wave phase: the tagged queue (:meth:`_wave_tagged`),
        checkpointed once. The wave and the rest of the queue are cheap
        filters over this one materialization, and the wave is small by
        construction (Σ host budgets)."""
        self._describe(superstep, "wave")
        return self._checkpoint(self._wave_tagged(queued))

    def _wave_tagged(self, queued: DataFrame) -> DataFrame:
        """Wave selection as ONE frame: the full queue plus a boolean
        ``_wv`` (in-wave) column.

        Politeness: ``row_number`` per host over (priority desc, seq
        asc) against the host's budget — window / crawl delay from the
        broadcast robots dim (reference pull order `matrix.go:101-124`).
        Fair share (``per_spider_quota``, scheduler.go:92-99 avgRes) is
        one more window, partitioned by (spider, in-budget): a prefix
        of each spider's in-budget rows in (priority desc, seq) order —
        the oracle's greedy — stays in the wave, the overflow stays
        queued. Every window is partitioned, under any config; the
        golden-order ``wave_pos`` is ranked only where the order table
        is appended."""
        cfg = self.config
        # crawl_delay_ms = 0 falls back to the default exactly like the
        # oracle's `delay or default` (a zero divisor would otherwise
        # NULL out the floor and silently clamp the budget to 1)
        budget = F.greatest(
            F.lit(1),
            F.floor(
                F.lit(cfg.wave_window_ms)
                / F.coalesce(
                    F.nullif(F.col("crawl_delay_ms"), F.lit(0)),
                    F.lit(_DEFAULT_CRAWL_DELAY_MS),
                )
            ),
        ).cast("int")
        by_host = Window.partitionBy("host").orderBy(
            F.desc("priority"), F.asc("seq")
        )
        tagged = (
            queued.join(
                F.broadcast(self.robots.select("host", "crawl_delay_ms")),
                "host",
                "left",
            )
            .withColumns(
                {"_budget": budget, "_host_rank": F.row_number().over(by_host)}
            )
            .withColumn("_wv", F.col("_host_rank") <= F.col("_budget"))
            .drop("crawl_delay_ms", "_budget", "_host_rank")
        )
        if cfg.per_spider_quota is not None:
            by_spider = Window.partitionBy("spider", "_wv").orderBy(
                F.desc("priority"), F.asc("seq")
            )
            tagged = tagged.withColumn(
                "_wv",
                F.col("_wv")
                & (F.row_number().over(by_spider) <= cfg.per_spider_quota),
            )
        return tagged

    def _fetch(
        self, wave: DataFrame, superstep: int
    ) -> tuple[DataFrame, Observation]:
        """Fetch phase: ``fetcher.fetch_meta`` once per wave, with the
        request-side columns attached (author headers, session cookies,
        proxy, User-Agent) and dropped again after, checkpointed. Every
        bookkeeping branch reads this one materialization. A body-store
        or fixture fetcher returns metadata only (bodies attach per
        branch, for just that branch's rows); a live fetcher returns the
        full fetch, so the checkpoint is also what makes it run once.
        Returns the checkpoint and the counts observed on it: ``wave``
        (rows), ``ok``, and the ok ``images`` and ``files`` rows."""
        self._describe(superstep, "fetch")
        out = self._attach_cookies(self._attach_headers(wave))
        dim = self._proxy_dim_for(superstep)
        if dim is not None:
            from .proxy import assign_proxy

            # tick = superstep: the rotation clock (proxy.go:162-173
            # UpdateTicker advances curIndex per period)
            out = assign_proxy(out, dim, superstep)
        if self.config.ua_mode:
            from .proxy import assign_user_agent

            out = assign_user_agent(out, self.config.ua_mode)
        ok_is = lambda cond: F.count_if(F.col("ok") & cond)  # noqa: E731
        meta, counts = _observed(
            self.fetcher.fetch_meta(out).drop("hdr", "cookie", "proxy", "ua"),
            wave=F.count("*"),
            ok=F.count_if("ok"),
            images=ok_is(F.col("rule") == self.spec.image_rule),
            files=ok_is(F.col("rule").isin(list(self._file_rules))),
        )
        return self._harvest_cookies(self._checkpoint(meta)), counts

    def _attach_headers(self, wave: DataFrame) -> DataFrame:
        """Author-set request headers out (`request.Request{Header:}`,
        request.go:25): one JVM column merging the spider-static
        ``spec.headers`` with the request's dynamic ``hdr:``-prefixed
        temp entries (fetch.headers_col — dynamic wins). Attached for
        EVERY fetcher: live fetchers send them, the fixture fetcher
        gates ``require_header`` pages on them; the column is dropped
        with the other transport columns right after the fetch."""
        from .fetch import headers_col

        return wave.withColumn("hdr", headers_col(self.spec.headers))

    def _attach_cookies(self, wave: DataFrame) -> DataFrame:
        """Session cookies out: join the wave with the driver-held
        host→Cookie-header dim (broadcast — O(hosts) rows, the robots
        scale class). No-op unless the fetcher opted into cookies."""
        if not getattr(self.fetcher, "enable_cookie", False):
            return wave
        from .httpfetch import cookie_header

        rows = [
            (h, cookie_header(jar))
            for h, jar in self._cookie_store.items()
            if jar
        ]
        if not rows:
            return wave.withColumn("cookie", F.lit(""))
        dim = local_frame(self.spark, rows, "host string, cookie string")
        return wave.join(F.broadcast(dim), "host", "left").withColumn(
            "cookie", F.coalesce(F.col("cookie"), F.lit(""))
        )

    def _harvest_cookies(self, fetched: DataFrame) -> DataFrame:
        """Session cookies in: fold harvested Set-Cookie headers into
        the store in wave order (priority desc, seq asc — the oracle's
        sequential DoHistory order, so same-name updates are
        deterministic).

        The fold runs DISTRIBUTED per host (applyInPandas group =
        host): each task replays its host's Set-Cookie stream in wave
        order through the same SimpleCookie merge the driver used to
        run row-by-row, and emits only the NET per-host delta — names
        whose last operation was a set, and names whose last operation
        was a delete (the empty-value logout idiom). The driver collect
        is therefore O(hosts-in-wave) rows × O(cookies-per-host) bytes —
        the same scale class as the robots dim — never O(wave rows):
        a cookie-enabled bulk crawl at 10^10-frontier scale streams
        hosts, not responses, to the driver each superstep. The
        driver-resident jar itself stays O(hosts × cookie names); that
        envelope is the login-session use case the reference's cookie
        jar serves (surf's per-client jar), not a per-page cache.
        Returns ``fetched`` without the ``set_cookies`` column."""
        if not getattr(self.fetcher, "enable_cookie", False):
            return fetched

        rows = fetched.where(F.size("set_cookies") > 0).select(
            "host", "priority", "seq", "set_cookies"
        )

        def fold(pdf):
            import json

            import pandas as pd

            from pholcus_spark.httpfetch import set_cookie_ops

            pdf = pdf.sort_values(
                ["priority", "seq"], ascending=[False, True]
            )
            # last op per name wins ('' = delete tombstone for the
            # driver's existing jar) — exactly what the sequential
            # merge_set_cookie fold would leave
            net: dict = {}
            for cookies in pdf["set_cookies"]:
                for raw in cookies:
                    for name, value in set_cookie_ops(raw):
                        net[name] = value
            return pd.DataFrame(
                {
                    "host": [pdf["host"].iloc[0]],
                    "sets": [
                        json.dumps(
                            {n: v for n, v in net.items() if v != ""}
                        )
                    ],
                    "dels": [
                        json.dumps(
                            sorted(n for n, v in net.items() if v == "")
                        )
                    ],
                }
            )

        import json

        for r in rows.groupBy("host").applyInPandas(
            fold, "host string, sets string, dels string"
        ).collect():
            jar = self._cookie_store.setdefault(r.host, {})
            for name in json.loads(r.dels):
                jar.pop(name, None)
            jar.update(json.loads(r.sets))
        return fetched.drop("set_cookies")


    def _ack_failures(
        self, fetched: DataFrame, others: DataFrame, superstep: int
    ) -> tuple[DataFrame, DataFrame, DataFrame, Observation]:
        """The failure state machine as lazy plans: (first failure per
        key, permanent failures, new failed_wait frontier rows), and
        the ``perm`` count observed on the split of the two. The
        frontier checkpoint is the first action that runs the split, so
        its observation is in that checkpoint's result stage.

        Same-key repeat failures within one wave (only possible for
        reloadable rows — non-reloadable keys are unique in the queue):
        the FIRST failure (wave order) drives the failure store and the
        within-wave child rule; repeats go straight to the permanent
        failure history, like the reference's sequential DoHistory
        hitting an already-stashed key (matrix.go:160-168). A first
        failure whose key already sits in the failure store is
        permanent too."""
        by_key = Window.partitionBy("key").orderBy(
            F.desc("priority"), F.asc("seq")
        )
        failed = fetched.where(~F.col("ok")).withColumn(
            "_frank", F.row_number().over(by_key)
        )
        failed_first = failed.where(F.col("_frank") == 1).drop("_frank")
        store_keys = others.where(
            F.col("state").isin("failed_wait", "failed_nil")
        ).select(F.col("key").alias("_sk"))
        split, counts = _observed(
            failed.join(
                store_keys, failed["key"] == store_keys["_sk"], "left"
            ).withColumn(
                "_perm", (F.col("_frank") > 1) | F.col("_sk").isNotNull()
            ),
            perm=F.count_if("_perm"),
        )
        perm_failed = split.where(F.col("_perm")).select(
            "key", "spider", "rule", "url", F.lit(superstep).alias("superstep")
        )
        new_failed_wait = frontier_rows(
            split.where(~F.col("_perm")),
            tries=F.col("tries") + 1,
            state="failed_wait",
        )
        return failed_first, perm_failed, new_failed_wait, counts

    def _parse(
        self, fetched: DataFrame, superstep: int, py_tasks: int
    ) -> DataFrame:
        """Parse phase: links, figures and ExtractRule output of every
        ok page in one decoded-body pass (``fetcher.parse_pages``),
        checkpointed in its own ``ss{N}:parse`` job. A lazy cache would
        be filled inside the children checkpoint, where two concurrent
        AQE stages reach it: one runs the kernel while the other holds
        its task slots waiting on the cache blocks. Bodies never enter
        the checkpoint. Metadata is filtered FIRST: filters do not push
        through mapInPandas."""
        self._describe(superstep, "parse")
        html = F.col("ok") & (F.col("rule") != self.spec.image_rule)
        if self._file_rules:
            # FileOutput rules consume the raw body (context.go:252-256
            # io.ReadAll) — never parsed as a page
            html = html & ~F.col("rule").isin(list(self._file_rules))
        return self._checkpoint(
            self.fetcher.parse_pages(
                fetched.where(html), self.spec.extract_rules,
                getattr(self.spec, "carry_concat", ()) or (),
                n_tasks=py_tasks,
            )
        )

    def _emit(
        self, parsed: DataFrame, fetched: DataFrame, superstep: int,
        py_tasks: int,
    ) -> tuple[dict, Observation]:
        """Emit phase: ``items`` (figure items plus emitting ExtractRule
        items), checkpointed in its own ``ss{N}:emit`` job with its row
        count observed, and the lazy append plans ``images`` (None when
        the python image sink writes them; ``image_meta`` is then its
        metadata input) and ``files`` (None without FileOutput rules).
        Returns them and the ``items`` observation. Images are NOT
        materialized or counted on their own branch: their row count is
        the ok image-rule count observed at the fetch, so the decode and
        the body stream run exactly once — inside the flush write."""
        from .extract import NOEMIT_KEY, OUTRULE_KEY

        stamp = {"superstep": F.lit(superstep), "download_time": _dlt()}
        items = (
            parsed.where(F.col("rule").isin(list(self.spec.item_rules)))
            .select(
                "spider", "rule", "url", "parent_url",
                F.explode("figures").alias("fig"),
            )
            .select(
                "spider", "rule", "url", "parent_url",
                F.create_map(
                    F.lit("image_id"),
                    F.regexp_extract(F.col("fig.src"), r"/img/(.+)\.(png|jpe?g)$", 1),
                    F.lit("caption"),
                    F.col("fig.caption"),
                ).alias("data"),
            )
            .withColumns(stamp)
        )
        # user-authored ExtractRules (the ParseFunc surface), computed in
        # the same parse pass with temp_fields already merged. emit=False
        # rules (ParseFunc without ctx.Output — baidunews.go:121-136)
        # drive links/carries/pagination but output nothing: the parse
        # tags their items with NOEMIT_KEY, filtered here, so emitting
        # and non-emitting rules may share one rule name (baidusearch).
        # Rule names where nothing emits skip the union entirely.
        if self.spec.extract_rules:
            dsl_rules = sorted(
                {
                    er.rule
                    for er in self.spec.extract_rules
                    if getattr(er, "emit", True)
                }
            )
            dsl = (
                parsed.where(F.col("rule").isin(dsl_rules))
                .select(
                    "spider", "rule", "url", "parent_url",
                    F.explode("dsl_items").alias("data"),
                )
                .where(~F.map_contains_key(F.col("data"), F.lit(NOEMIT_KEY)))
                # ctx.Parse relabel (ExtractRule.out_rule → SetRuleName,
                # context.go:363): the item's rule column is the
                # delegated name; the marker never reaches the table
                .withColumn(
                    "rule",
                    F.coalesce(
                        F.try_element_at(F.col("data"), F.lit(OUTRULE_KEY)),
                        F.col("rule"),
                    ),
                )
                .withColumn(
                    "data",
                    F.map_filter(
                        F.col("data"), lambda k, _v: k != F.lit(OUTRULE_KEY)
                    ),
                )
            )
            items = items.unionByName(dsl.withColumns(stamp))
        items, counts = _observed(items, items=F.count("*"))
        self._describe(superstep, "emit")
        out = {"items": self._checkpoint(items), "images": None, "files": None}
        image_meta = fetched.where(
            F.col("ok") & (F.col("rule") == self.spec.image_rule)
        )
        if self.config.python_image_sink and getattr(self.fetcher, "store", None):
            out["image_meta"] = image_meta
        else:
            from .validate import validate_image_udf

            out["images"] = (
                self.fetcher.attach_bodies(image_meta, n_tasks=py_tasks)
                .withColumn("val", validate_image_udf("body", "content_type", "url"))
                .select(
                    F.coalesce(
                        F.try_element_at(F.col("temp"), F.lit("image_id")),
                        F.regexp_extract("url", r"/img/(.+)\.(png|jpe?g)$", 1),
                    ).alias("image_id"),
                    F.col("body").alias("bytes"),
                    F.col("val.w").alias("w"),
                    F.col("val.h").alias("h"),
                    F.when(F.col("content_type").contains("jpeg"), "jpeg")
                    .otherwise("png")
                    .alias("fmt"),
                    F.coalesce(
                        F.try_element_at(F.col("temp"), F.lit("caption")), F.lit("")
                    ).alias("caption"),
                    F.col("val.phash").alias("phash"),
                    F.col("val.ok").alias("valid"),
                    F.col("val.error").alias("error"),
                    F.col("url"),
                    F.col("parent_url"),
                )
                .withColumns(stamp)
            )
        if self._file_rules:
            # FileCells (context.go:247-284): raw body + derived name.
            # Name derivation is pure JVM (file_output_name_col); the
            # per-rule nameOrExt constants fold into a when-chain.
            from .sinks import file_output_name_col

            name_col = F.lit(None).cast("string")
            for r, arg in self._file_rules.items():
                name_col = F.when(
                    F.col("rule") == r, file_output_name_col(F.col("url"), arg)
                ).otherwise(name_col)
            file_meta = fetched.where(
                F.col("ok") & F.col("rule").isin(list(self._file_rules))
            )
            out["files"] = (
                self.fetcher.attach_bodies(file_meta, n_tasks=py_tasks)
                .select(
                    "spider", "rule", "url", "parent_url",
                    name_col.alias("name"),
                    F.col("body").alias("bytes"),
                    F.length("body").cast("long").alias("size"),
                )
                .withColumns(stamp)
            )
        return out, counts

    def _push_children(
        self, parsed: DataFrame, new_seen: DataFrame, rest: DataFrame,
        failed_first: DataFrame, state: dict, superstep: int,
    ) -> tuple[DataFrame, int]:
        """Children phase: emitted links, pushed (:meth:`_push`) in push
        order (parent priority desc, parent seq, ordinal) with this
        wave's successes and the rest of the queue in flight. Returns
        the pushed rows and their count."""
        self._describe(superstep, "children")
        children = self._emit_children(parsed, superstep)
        # failed-wave-position rule (see module docstring); reloadable
        # exempt. Wave position i > j  <=>  (-prio_i, seq_i) > (-prio_j,
        # seq_j) lexicographically — no materialized position needed.
        # It drops rows, not keys, so it runs before the per-key dedup.
        failed_pos = failed_first.select(
            F.col("key").alias("_fkey"),
            F.col("priority").alias("_fprio"),
            F.col("seq").alias("_fseq"),
        )
        children = (
            children.join(
                failed_pos, children["key"] == failed_pos["_fkey"], "left"
            )
            .where(
                F.col("reloadable")
                | F.col("_fkey").isNull()
                | (F.col("p_prio") < F.col("_fprio"))
                | (
                    (F.col("p_prio") == F.col("_fprio"))
                    & (F.col("p_seq") > F.col("_fseq"))
                )
            )
            .drop("_fkey", "_fprio", "_fseq")
        )
        # checkpoint: the emission chain (explode -> route -> robots ->
        # carry window -> key -> failed join) is read by both branches
        # of the push (reloadable or not); truncating it once keeps it
        # from running twice and keeps the push's plans flat
        return self._push(
            self._checkpoint(children),
            [F.desc("p_prio"), F.asc("p_seq"), F.asc("ordinal")],
            new_seen.union(rest.select("key")),
            state,
        )

    def _push(
        self, cands: DataFrame, order: list, in_flight: DataFrame | None,
        state: dict,
    ) -> tuple[DataFrame, int]:
        """The engine's one Push (`matrix.go:51-98`; the oracle's
        ``push``): seeds, children and requeued failures all enter the
        frontier through it.

        A non-reloadable row drops when its key is in url_seen
        (hasHistory, Bloom-probed by ``bloom.SeenSet.filter_unseen``,
        unflushed deltas included) or in
        ``in_flight`` (queued keys not yet seen); of the rows left, the
        first per key in ``order`` wins. Reloadable rows all pass
        (request.go:270-277). The survivors are ranked over ``order``
        (unique per row) by :func:`two_phase_rank`, cut at the limit
        guard's remaining budget ``state["max_page"]`` (matrix.go:59-61,
        97: dropped rows never consume it) and given dense ``seq`` from
        ``state["next_seq"]``. Returns the pushed rows, a projection of
        the rank's checkpoint (released at the next flush), and their
        count, known on the driver from the rank's partition counts.

        One dedup order serves every caller, without changing its rows:

        1. ``reloadable`` is a function of the canonical URL, and the
           key hashes that URL, so all rows of one key agree on it.
        2. The anti-joins drop whole keys, so they commute with the
           per-key window: windowing first (the oracle's push-by-push
           order) or last (here, over the fewest rows) gives the same
           rows.
        3. ``_ack_failures`` sends a key that is already in the failure
           store to failures_final, so failed_wait holds at most one
           row per key: the requeue needs no dedup of its own.
        """
        # both branches read `cands`: a checkpoint or driver rows for
        # every caller but seed_urls_df, whose reloadable branch is
        # empty (folded away) unless the spec lists reloadable URLs
        non_reload = cands.where(~F.col("reloadable"))
        if in_flight is not None:
            # O(queue): a plain anti-join (duplicates on the right side
            # of a left_anti are harmless, so no distinct)
            non_reload = non_reload.join(in_flight, "key", "left_anti")
        first = Window.partitionBy("key").orderBy(*order)
        non_reload = (
            self._seen.filter_unseen(
                non_reload, pending=self._pending.get("url_seen", [])
            )
            .withColumn("_krn", F.row_number().over(first))
            .where(F.col("_krn") == 1)
            .drop("_krn")
        )
        ranked, n = two_phase_rank(
            non_reload.unionByName(cands.where(F.col("reloadable"))),
            order, "_rank", self._checkpoint,
        )
        if state["max_page"] is not None:
            budget = max(0, -state["max_page"])
            ranked = ranked.where(F.col("_rank") <= budget)
            n = min(n, budget)
        pushed = ranked.withColumn(
            "seq", (F.lit(state["next_seq"]) + F.col("_rank") - 1).cast("long")
        ).drop("_rank")
        return pushed, n

    def _set_frontier(self, df: DataFrame) -> None:
        """Replace the in-memory frontier with ``df``, coalesced and
        checkpointed: lineage is truncated every step, and parquet stays
        the durable resume point without the hot loop re-reading it. The
        next flush commits it and releases the frontier it replaces,
        which may still back pending append plans."""
        if self._frontier_df is not None:
            self._pending_release.append(self._frontier_df)
        self._frontier_df = df.coalesce(
            self.config.frontier_partitions
        ).localCheckpoint(eager=True)
        self._frontier_dirty = True

    def _next_frontier(
        self, rest: DataFrame, others: DataFrame, kept: DataFrame,
        new_failed_wait: DataFrame, superstep: int,
    ) -> None:
        """Frontier phase: rest of the queue ∪ non-queued rows ∪ the new
        children ∪ new failed_wait rows, checkpointed. The children's
        dedup and rank already ran in the push's own rank checkpoint
        (:func:`two_phase_rank`); this checkpoint only unions that
        materialized output with the other branches."""
        self._describe(superstep, "frontier")
        self._set_frontier(
            rest.unionByName(others)
            .unionByName(
                frontier_rows(
                    kept, url=F.col("curl"), tries=0, retried=False,
                    state="queued",
                )
            )
            .unionByName(new_failed_wait)
        )

    def _stage_image_sink(
        self, image_meta: DataFrame, superstep: int, py_tasks: int
    ) -> None:
        """Python image sink: decode + validate + write image rows inside
        the body-read task (body bytes never cross into the JVM). The
        staged dir is published and adopted by the next flush."""
        from .validate import images_arrow_schema, make_image_sink_kernel

        # stage OUTSIDE the table dir (.staging is invisible to the
        # streaming consumer's {table}/* glob and to Spark scans), and
        # clear any leftover from a crashed prior run — a resumed run
        # with a different config must not adopt stale orphan part files
        stage_rel = f"images/stage-{superstep:06d}"
        stage_dir = os.path.join(
            self.catalog.root, ".staging", f"images-stage-{superstep:06d}"
        )
        shutil.rmtree(stage_dir, ignore_errors=True)
        os.makedirs(stage_dir)
        manifest = self.fetcher.store.sink_map_bodies(
            image_meta.select("url", "parent_url", "content_type", "temp"),
            make_image_sink_kernel(
                superstep,
                session_tz=self.spark.conf.get(
                    "spark.sql.session.timeZone", "UTC"
                ),
            ),
            "image_id string, valid boolean",
            n_tasks=py_tasks,
            sink_dir=stage_dir,
            sink_tag=f"s{superstep:06d}",
            sink_arrow_schema=images_arrow_schema(),
        )
        self._pending_adopt.setdefault("images", []).append(
            (manifest, stage_dir, stage_rel)
        )

    def _flush(self, state: dict) -> None:
        """Durably commit buffered append deltas + the current frontier +
        state as one catalog snapshot, then release the caches and
        checkpoints that backed the buffered plans. Its Spark jobs are
        labelled ``ss{N}:flush``."""
        self._describe(state["superstep"], "flush")
        appends: dict[str, DataFrame] = {}
        for name, dfs in self._pending.items():
            out = dfs[0]
            for d in dfs[1:]:
                out = out.unionByName(d)
            appends[name] = out
        rewrites = {"frontier": self._frontier_df} if self._frontier_dirty else {}
        adopt: dict[str, list[str]] = {}
        staged_all = [
            (name, manifest, stage_dir, rel)
            for name, staged in self._pending_adopt.items()
            for manifest, stage_dir, rel in staged
        ]

        def _force_adopt(item):
            # forcing the manifest runs the python sink tasks; the
            # files land in the invisible .staging dir, which one
            # rename publishes under the table dir before the commit
            # adopts it (a crash before here leaves only .staging
            # orphans — never visible to readers or streams)
            _name, manifest, stage_dir, rel = item
            # pool threads do not inherit the caller's job description
            self._describe(state["superstep"], "flush")
            manifest.write.mode("overwrite").format("noop").save()
            dst = os.path.join(self.catalog.root, rel)
            shutil.rmtree(dst, ignore_errors=True)
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            os.replace(stage_dir, dst)

        # commit_every>1 buffers one independent staged sink per
        # superstep; they run as concurrent Spark jobs so the tail tasks
        # of one back-fill cores freed by another — a few in flight is
        # enough, and it bounds python worker pressure
        with ThreadPoolExecutor(max_workers=3) as pool:
            list(pool.map(_force_adopt, staged_all))
        for name, _m, _s, rel in staged_all:
            adopt.setdefault(name, []).append(rel)
        self._pending_adopt = {}
        self.catalog.commit(appends, rewrites, state, adopt=adopt)
        for df in self._pending_release:
            release(df)
        self._pending = {}
        self._pending_release = []
        self._steps_since_flush = 0
        self._frontier_dirty = False
        if self.config.expire_keep_snapshots:
            self.catalog.expire_snapshots(
                keep_last=self.config.expire_keep_snapshots
            )
        self._seen.maybe_rebuild()
        self.spark.sparkContext.setJobDescription(None)

    # ------------------------------------------------------------------

    def _emit_children(self, parsed: DataFrame, superstep: int) -> DataFrame:
        """Explode out-links into routed, keyed child requests. The
        parse kernel hands every link over canonical, with its host
        (NULL for a malformed link), so this runs in the JVM only."""
        spec = self.spec
        # children come from anchors AND embedded image srcs — the reference
        # enqueues file downloads from img srcs via ctx.AddQueue just like
        # page links (context.go:104-125, FileOutput path :247-284).
        # The figure-caption carry and the rule-authored Temp carry ride
        # the SAME explode as the links, as struct entries: one
        # last-wins window over (parent_url, curl), instead of a
        # window and join per carry.
        follow = getattr(spec, "follow_anchors", True)
        has_carry = any(
            getattr(er, "carry_fields", ()) or ()
            for er in spec.extract_rules
        )
        null_fig = F.lit(None).cast(
            "struct<caption:string,image_id:string>"
        )
        null_map = F.lit(None).cast("map<string,string>")

        def _entry(curl, host, fig=None, ctemp=None, emit=True):
            return F.struct(
                curl.alias("curl"),
                host.alias("host"),
                (fig if fig is not None else null_fig).alias("fig0"),
                (ctemp if ctemp is not None else null_map).alias("ctemp0"),
                F.lit(emit).alias("is_emit"),
            )

        emit_arrays = []
        if follow:
            emit_arrays.append(
                F.transform(
                    F.col("out_links"),
                    lambda l, i: _entry(l, F.get(F.col("out_hosts"), i)),
                )
            )
        # figure entries are always present: emitted children when
        # follow_anchors, caption-carry-only otherwise (explicit-
        # AddQueue ports still attach figure Temp to matching children)
        emit_arrays.append(
            F.transform(
                F.col("figures"),
                lambda f: _entry(
                    f["curl"],
                    f["host"],
                    fig=F.struct(
                        f["caption"].alias("caption"),
                        F.regexp_extract(
                            f["src"], r"/img/(.+)\.(png|jpe?g)$", 1
                        ).alias("image_id"),
                    ),
                    emit=follow,
                ),
            )
        )
        # link_fields-emitted children (ctx.AddQueue from rule data,
        # avatar.go:95-101) — last in push order; the authored carry
        # (dsl_carry, parallel array) rides the same entry
        emit_arrays.append(
            F.transform(
                F.coalesce(
                    F.col("dsl_links"), F.array().cast("array<string>")
                ),
                lambda l, i: _entry(
                    l,
                    F.get(F.col("dsl_hosts"), i),
                    ctemp=(
                        F.try_element_at(F.col("dsl_carry"), i + 1)
                        if has_carry
                        else None
                    ),
                ),
            )
        )
        links = parsed.select(
            "spider",
            F.col("url").alias("parent_url"),
            "depth",
            F.col("priority").alias("p_prio"),
            F.col("seq").alias("p_seq"),
            F.posexplode(F.concat(*emit_arrays)).alias("ordinal", "_e"),
        ).select(
            "spider", "parent_url", "depth", "p_prio", "p_seq", "ordinal",
            F.col("_e.curl").alias("curl"),
            F.col("_e.host").alias("host"),
            F.col("_e.fig0").alias("fig0"),
            F.col("_e.ctemp0").alias("ctemp0"),
            F.col("_e.is_emit").alias("is_emit"),
        )
        if spec.max_depth is not None:
            links = links.where(F.col("depth") < spec.max_depth)
        # malformed hrefs canonicalize to NULL and are dropped, never
        # fatal (common.go:178-196 MakeUrl ok=false; oracle does the same)
        links = links.where(F.col("curl").isNotNull())
        # route: first matching pattern wins (spiderspec order) — a chained
        # CASE WHEN stays JVM-side in whole-stage codegen. The LinkRule also
        # fixes the HTTP method + POST body (param.go:61-84).
        rule_col = F.lit(None).cast("string")
        prio_col = F.lit(None).cast("int")
        method_col = F.lit(None).cast("string")
        post_col = F.lit(None).cast("string")
        for lr in reversed(spec.link_rules):
            cond = F.col("curl").contains(lr.pattern)
            rule_col = F.when(cond, F.lit(lr.rule)).otherwise(rule_col)
            prio_col = F.when(cond, F.lit(lr.priority)).otherwise(prio_col)
            method_col = F.when(cond, F.lit(lr.method)).otherwise(method_col)
            post_col = F.when(cond, F.lit(lr.post_data)).otherwise(post_col)
        # carry-only entries (is_emit=false — the follow_anchors=False
        # figure shape) survive routing and are filtered after the
        # attach window below. In follow mode, unrouted figure entries
        # drop HERE — and that is correct, not a donation leak (round-5
        # ADVICE, adjudicated round 6 against the conformance oracle):
        # routing is a pure function of curl, so a same-curl anchors/
        # link_fields child is unrouted exactly when the figure is, and
        # the only routing-bypassing children (paginate rows) take
        # their Temp from PaginateRule.carry_fields in the oracle,
        # never from figures — keeping unrouted figures as donors here
        # would make the engine diverge from it.
        links = links.withColumns(
            {
                "rule": rule_col,
                "priority": prio_col,
                "method": method_col,
                "post_data": post_col,
            }
        ).where(F.col("rule").isNotNull() | ~F.col("is_emit"))
        # extract-count pagination (PaginateRule — the reference's
        # Aid-loop idiom): expanded JVM-side, pushed after the page's
        # other children via the ordinal block offset; joins the same
        # robots / temp-carry / key pipeline below
        if getattr(spec, "paginate_rules", ()) or ():
            pag = self._paginate_children(parsed)
            if pag is not None:
                # allowMissingColumns: pag rows add `pcarry` (the
                # PaginateRule Temp carry); link rows get it as null
                links = links.unionByName(pag, allowMissingColumns=True)
        # robots filter (north-rule extension): the shared oracle-gated
        # broadcast-dim primitive (RFC 9309 longest-match incl. Allow)
        links = self._robots_disallow_filter(links, "curl")
        # attach the carried Temp: the LAST (by emission ordinal)
        # figure caption / authored carry among same-(parent, curl)
        # entries wins — matching the oracle's dict assignment; the
        # whole fig struct transfers at once so a last figure with a
        # null caption still overrides an earlier one wholesale.
        # Paginate rows (unioned without entry columns) participate as
        # attach TARGETS only (is_emit null → kept by the coalesce).
        attach = (
            Window.partitionBy("parent_url", "curl")
            .orderBy("ordinal")
            .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        )
        links = (
            links.withColumns(
                {
                    "_fig": F.last("fig0", ignorenulls=True).over(attach),
                    "_ctemp": (
                        F.last("ctemp0", ignorenulls=True).over(attach)
                        if has_carry
                        else null_map
                    ),
                }
            )
            .where(F.coalesce(F.col("is_emit"), F.lit(True)))
            .drop("fig0", "ctemp0", "is_emit")
        )
        # generic Temp carry-along (request.go:280-332, temp.go:11-44):
        # a map<string,string> column on the frontier row; the figure
        # carry (caption/image_id for image children) populates it here,
        # a rule-authored carry (_ctemp) REPLACES it when present
        reload_list = list(spec.reloadable_urls)
        # method is part of the identity key: the same URL under GET and
        # POST is two frontier entries (request.go:139-145)
        temp_sources = [F.col("_ctemp")]
        if "pcarry" in links.columns:  # PaginateRule carry (taobao.go:244)
            temp_sources.append(F.col("pcarry"))
        links = links.withColumns(
            {
                "temp": F.coalesce(
                    *temp_sources,
                    F.map_filter(
                        F.create_map(
                            F.lit("caption"), F.col("_fig.caption"),
                            F.lit("image_id"), F.col("_fig.image_id"),
                        ),
                        lambda k, v: v.isNotNull(),
                    ),
                ),
                "reloadable": (
                    F.col("curl").isin(reload_list)
                    if reload_list
                    else F.lit(False)
                ),
                "key": request_key_col(
                    F.col("spider"), F.col("rule"), F.col("curl"), F.col("method")
                ),
                "depth": F.col("depth") + 1,
            }
        ).drop("_fig", "_ctemp", "pcarry")
        return links

    def _paginate_children(self, parsed: DataFrame) -> DataFrame | None:
        """PaginateRule expansion — the reference's extract-count-then-
        Aid-loop pagination (miyabaobei.go:86-105 ``ctx.Aid({"loop":
        [1, total]})``; same shape in taobao.go / jdSpider.go /
        lewa.go), fully distributed: the count rides the page's
        extracted items (dsl_items), ``sequence`` + ``format_string``
        expand pages ``start..min(count, max_pages)`` inside whole-stage
        codegen — no driver loop, no Python stage, no extra body pass.

        Generated children carry ``target_rule``/``priority``/
        ``method`` directly (ctx.Aid names the rule — LinkRule routing
        is bypassed) and an ordinal in a dedicated block per item
        (``(ipos+1)·2^20 + page``) so push order is: anchors, figure
        srcs, link_fields children, then pagination — FIFO-stable and
        mirrored independently by the conformance oracle. Returns rows
        shaped like the routed-links frame at the union point (post
        canonicalize + routing, pre robots), plus ``pcarry``."""
        spec = self.spec
        parts: list[DataFrame] = []
        for pr in getattr(spec, "paginate_rules", ()) or ():
            src = parsed.where(F.col("rule") == pr.rule).select(
                "spider",
                F.col("url").alias("parent_url"),
                "depth",
                F.col("priority").alias("p_prio"),
                F.col("seq").alias("p_seq"),
                F.posexplode("dsl_items").alias("ipos", "_data"),
            )
            if spec.max_depth is not None:
                src = src.where(F.col("depth") < spec.max_depth)
            # the reference's next-page AddQueue carries the grown Temp
            # (taobao.go:244-250): {dst: item[src]} from the emitting
            # item rides every generated page request
            cfs = getattr(pr, "carry_fields", ()) or ()
            if cfs:
                kv: list = []
                for c in cfs:
                    src_f, dst_f = (c, c) if isinstance(c, str) else c
                    kv += [
                        F.lit(dst_f),
                        F.coalesce(
                            F.try_element_at(F.col("_data"), F.lit(src_f)),
                            F.lit(""),
                        ),
                    ]
                pcarry = F.create_map(*kv)
            else:
                pcarry = F.lit(None).cast("map<string,string>")
            part = paginate_expand(src, pr).select(
                "spider", "parent_url", "depth", "p_prio", "p_seq",
                ((F.col("ipos") + 1) * F.lit(1 << 20) + F.col("_page"))
                .alias("ordinal"),
                F.col("raw_link"),
                pcarry.alias("pcarry"),
            )
            part = (
                canonical_split(part, "raw_link")
                .where(F.col("curl").isNotNull())
                .drop("raw_link")
            )
            parts.append(
                part.withColumns(
                    {
                        "rule": F.lit(pr.target_rule),
                        "priority": F.lit(pr.priority).cast("int"),
                        "method": F.lit(pr.method),
                        "post_data": F.lit(""),
                    }
                )
            )
        if not parts:
            return None
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def _requeue_failures(self, state: dict, frontier: DataFrame) -> None:
        """failure-requeue-once at queue drain (`matrix.go:186-202`; the
        reference always requeues): every failed_wait row is re-pushed
        (:meth:`_push`, in seq order — a reloadable success followed by
        a same-key failure can make a failed key seen; the push's seen
        filter covers the buffered url_seen deltas, so nothing is
        flushed first) and stays in the failure store as failed_nil.
        One flush then commits the buffered supersteps and the requeue.
        Its jobs are labelled ``ss{N}:requeue``."""
        self._describe(state["superstep"], "requeue")
        fw = frontier.where(F.col("state") == "failed_wait")
        pushed, n = self._push(fw, [F.asc("seq")], None, state)
        self._set_frontier(
            frontier.where(F.col("state") != "failed_wait")
            .unionByName(fw.withColumn("state", F.lit("failed_nil")))
            .unionByName(frontier_rows(pushed, retried=True, state="queued"))
        )
        _count_pushes(state, n)
        state.update(queued_count=n, failed_wait_count=0, stopped=n == 0)
        self._flush(state)
