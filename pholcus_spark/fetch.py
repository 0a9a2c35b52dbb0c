"""Batched fetch stage — the Spark replacement for the reference's
downloader (`app/downloader/downloader_surfer.go:35-74`, Surf HTTP
`app/downloader/surfer/surf.go:52-197`).

Interchangeable implementations behind one contract, :class:`Fetcher`
(SURVEY.md §7.3: the fetch stage must be cleanly swappable because
tests run with no network):

* :class:`FixtureFetcher` — deterministic equi-join against the fixture
  ``pages`` table. Flaky pages (fail first, succeed on retry) model the
  transient-error path that drives the reference's
  failure-requeue-once (`matrix.go:144-204`); missing URLs and
  status>=400 model the permanent path (`downloader_surfer.go:67-69`).
* :class:`StoreFetcher` — the fixture join over a body store's
  metadata; bodies are read python-side, only where a stage needs them.
* :class:`~pholcus_spark.httpfetch.HttpFetcher` — the one live
  fetcher: a ``mapInPandas`` batch over a pluggable session (stdlib
  urllib by default, aiohttp opt-in). Tests drive it against an
  in-process server; none touches the network.

``fetch(wave)`` returns the wave DataFrame extended with
``status int, content_type string, body binary, ok boolean``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


HDR_TEMP_PREFIX = "hdr:"


def headers_col(spec_headers: tuple = ()) -> "F.Column":
    """Merged per-request extra-header column (JSON string, '' = none),
    entirely JVM-side: static ``SpiderSpec.headers`` pairs overlaid by
    the request's dynamic ``temp`` entries whose keys start with
    ``hdr:`` (key stripped of the prefix; dynamic wins on collision —
    the reference sets request.Header per AddQueue, so the
    per-request value is the author's latest word). Empty merge → ''
    so fetchers can treat the column as optional."""
    dyn = F.transform_keys(
        F.map_filter(
            F.coalesce(
                F.col("temp"), F.create_map().cast("map<string,string>")
            ),
            lambda k, _v: k.startswith(HDR_TEMP_PREFIX),
        ),
        lambda k, _v: F.substring(k, len(HDR_TEMP_PREFIX) + 1, 2048),
    )
    if spec_headers:
        kv: list = []
        for name, value in spec_headers:
            kv += [F.lit(name), F.lit(value)]
        static = F.create_map(*kv)
        merged = F.map_concat(
            F.map_filter(
                static, lambda k, _v: ~F.map_contains_key(dyn, k)
            ),
            dyn,
        )
    else:
        merged = dyn
    return F.when(F.size(merged) > 0, F.to_json(merged)).otherwise(F.lit(""))


class Fetcher:
    """The contract the crawl engine runs every wave through.

    * ``fetch_meta(wave)`` — the fetch result, once per wave; the engine
      checkpoints it. It may leave out ``body``: a fetcher that can
      re-read bodies (fixture table, body store) returns metadata only.
      Default: the full :meth:`fetch`, as a live fetch cannot be issued
      twice.
    * ``attach_bodies(meta, n_tasks)`` — add ``body`` to an
      already-filtered slice of ``fetch_meta``'s rows. Default: the
      identity (the rows already carry it).
    * ``parse_pages(meta, extract_rules, carry_concat, n_tasks)`` — the
      pages' links, figures and ExtractRule output
      (``extract.PARSE_EXTRA_DDL`` columns) in place of ``body``.
      Default: :func:`extract.parse_pages_kernel` over
      ``attach_bodies(meta)``.

    ``n_tasks`` caps the width of a python body stage; fetchers without
    one ignore it. ``fetch(wave)`` stays the one-call form for callers
    outside the engine (sitemap and robots ingestion).

    Capabilities the engine reads by name: ``store``, the
    :class:`~pholcus_spark.bodystore.ParquetBodyStore` the bodies live
    in (the python image sink writes from it), and ``enable_cookie``,
    the reference's EnableCookie session jar.
    """

    store = None
    enable_cookie = False

    def fetch(self, wave: DataFrame) -> DataFrame:
        raise NotImplementedError

    def fetch_meta(self, wave: DataFrame) -> DataFrame:
        return self.fetch(wave)

    def attach_bodies(
        self, meta: DataFrame, n_tasks: int | None = None
    ) -> DataFrame:
        return meta

    def parse_pages(
        self, meta: DataFrame, extract_rules=(), carry_concat=(),
        n_tasks: int | None = None,
    ) -> DataFrame:
        from pyspark.sql.types import StructType

        from .extract import PARSE_EXTRA_DDL, parse_pages_kernel

        pages = self.attach_bodies(meta, n_tasks=n_tasks)
        kernel = parse_pages_kernel(extract_rules, carry_concat)
        schema = StructType(
            [f for f in pages.schema.fields if f.name != "body"]
            + list(StructType.fromDDL(PARSE_EXTRA_DDL).fields)
        )

        def run(batches):
            for pdf in batches:
                if len(pdf):
                    yield kernel(pdf)

        return pages.mapInPandas(run, schema)


class FixtureFetcher(Fetcher):
    """Fetch = left equi-join on canonical URL against the pages fixture.

    The join is the 'scan of the web' (SURVEY.md §2.1). The pages side
    is pre-repartitioned on url so repeated waves reuse a stable
    shuffle; at bench scale AQE handles the skewed hot host. A fixture
    fetch is a deterministic lookup, so ``fetch_meta`` joins without the
    body column and ``attach_bodies`` joins it back for just the rows a
    stage needs.
    """

    def __init__(self, pages: DataFrame, try_times: int = 1):
        # try_times models the reference's in-fetch bounded retry
        # (TryTimes, `surf.go:158-197`): one engine-level fetch of a row
        # with `tries` prior fetches has consumed (tries+1)*try_times
        # cumulative attempts; a page declaring `fail_attempts` failing
        # attempts succeeds once the cumulative count exceeds it. The
        # legacy `flaky` boolean is fail_attempts=1.
        self.try_times = try_times
        cols = [
            c
            for c in ("status", "flaky", "content_type", "body",
                      "require_header")
            if c in pages.columns  # StoreFetcher meta carries no body
        ]
        if "fail_attempts" in pages.columns:
            cols.append("fail_attempts")
        # keep only fetch-relevant columns; canonical url join key.
        # _page_post: POST-body-keyed page (zhihu_bianji.go:85-90
        # idiom) — a page row with non-empty post_data answers only the
        # request whose body equals it. Do NOT mix '' and non-'' rows
        # for one url — '' matches any request to the url.
        extra = (
            [F.coalesce(F.col("post_data"), F.lit("")).alias("_page_post")]
            if "post_data" in pages.columns
            else []
        )
        self.pages = pages.select(
            F.col("url").alias("_page_url"), *cols, *extra
        )
        if "fail_attempts" not in pages.columns:
            self.pages = self.pages.withColumn(
                "fail_attempts", F.lit(None).cast("int")
            )
        # fixture contract: one page row per (url, post body). A
        # duplicate would DOUBLE every wave row through the left join —
        # downstream counters drift and the run never terminates. Fail
        # loudly at construction instead (test-only fetcher: the eager
        # count is fine here).
        dup = (
            self.pages.groupBy(
                "_page_url",
                *(
                    ["_page_post"]
                    if "_page_post" in self.pages.columns
                    else []
                ),
            )
            .count()
            .where(F.col("count") > 1)
            .limit(1)
            .collect()
        )
        if dup:
            raise ValueError(
                f"FixtureFetcher: duplicate page row for url "
                f"{dup[0]['_page_url']!r} — one row per (url, post_data)"
            )

    @staticmethod
    def _match(wave: DataFrame, pages: DataFrame) -> DataFrame:
        """Left join of wave rows to their page row: same url, and a
        matching POST body when the page is body-keyed."""
        cond = wave["url"] == pages["_page_url"]
        if "_page_post" in pages.columns:
            cond = cond & (
                (pages["_page_post"] == "")
                | (
                    pages["_page_post"]
                    == F.coalesce(wave["post_data"], F.lit(""))
                )
            )
        return wave.join(pages, cond, "left").drop("_page_url", "_page_post")

    def _join(self, wave: DataFrame, pages: DataFrame) -> DataFrame:
        joined = self._match(wave, pages)
        if "require_header" in joined.columns:
            # header-walled page: 403 unless the request's hdr JSON
            # (engine-attached, fetch.headers_col) carries the named
            # header with the exact value — all JVM (from_json +
            # element_at). A wave with no hdr column sent nothing.
            sent = (
                F.from_json(F.col("hdr"), "map<string,string>")
                if "hdr" in joined.columns
                else F.create_map().cast("map<string,string>")
            )
            want = F.split(F.col("require_header"), ": ", 2)
            met = F.coalesce(
                F.try_element_at(sent, want.getItem(0))
                == want.getItem(1),
                F.lit(False),
            )
            joined = joined.withColumn(
                "status",
                F.when(
                    F.col("require_header").isNotNull() & ~met, F.lit(403)
                ).otherwise(F.col("status")),
            ).drop("require_header")
        fail_n = F.coalesce(
            F.col("fail_attempts"),
            F.when(F.coalesce(F.col("flaky"), F.lit(False)), 1).otherwise(0),
        )
        return (
            joined.withColumn("status", F.coalesce(F.col("status"), F.lit(599)))
            .withColumn(
                "ok",
                (F.col("status") < 400)
                & ((F.col("tries") + 1) * self.try_times > fail_n),
            )
            .drop("flaky", "fail_attempts")
        )

    def fetch(self, wave: DataFrame) -> DataFrame:
        return self._join(wave, self.pages)

    def fetch_meta(self, wave: DataFrame) -> DataFrame:
        """Metadata-only fetch result (no body column) — the columnar
        page cache prunes the body column, so this join moves KBs, not
        the corpus."""
        return self._join(wave, self.pages.drop("body"))

    def attach_bodies(
        self, meta: DataFrame, n_tasks: int | None = None
    ) -> DataFrame:
        """Join ``body`` back onto filtered metadata rows."""
        keys = [c for c in ("_page_url", "_page_post") if c in self.pages.columns]
        return self._match(meta, self.pages.select(*keys, "body"))


class StoreFetcher(FixtureFetcher):
    """FixtureFetcher over a :class:`~pholcus_spark.bodystore.ParquetBodyStore`:
    the JVM plan joins waves against the store's metadata projection only
    (body column pruned at the parquet scan); body-consuming stages pull
    bytes python-side via ``store.map_bodies`` so bodies never cross the
    JVM<->Python Arrow bridge (BENCH/BASELINE.md §3 — the 0.55-efficiency
    serialization layer is removed from the plan entirely).
    """

    def __init__(self, spark, store, try_times: int = 1):
        self.store = store
        meta = spark.read.parquet(store.path).drop("body", "body_bucket")
        super().__init__(meta, try_times=try_times)

    def attach_bodies(
        self, meta: DataFrame, n_tasks: int | None = None
    ) -> DataFrame:
        """Attach body bytes to an (already filtered!) metadata frame —
        a python-side bucket read + yield, costing one Python->JVM body
        crossing for exactly these rows. Callers MUST filter first:
        filters cannot be pushed through mapInPandas, so attaching
        before filtering would ship every body. ``n_tasks`` caps the
        python stage width for small batches (bodystore._bucketed)."""
        schema = ", ".join(
            f"{f.name} {f.dataType.simpleString()}" for f in meta.schema.fields
        ) + ", body binary"

        def attach(pdf):
            return pdf

        return self.store.map_bodies(
            meta, attach, schema,
            n_tasks=n_tasks or self.store.n_buckets,
        )

    def fetch(self, wave: DataFrame) -> DataFrame:
        """Full fetch (bodies attached) for generic callers; the engine
        prefers fetch_meta + per-branch attach_bodies."""
        return self.attach_bodies(self.fetch_meta(wave))

    def parse_pages(
        self, meta: DataFrame, extract_rules=(), carry_concat=(),
        n_tasks: int | None = None,
    ) -> DataFrame:
        """Fused read+parse: the body-read task itself runs the
        link/figure/ExtractRule extraction and returns only the parsed
        columns — html bodies never enter the JVM plan (the html analog
        of the python image sink). ``meta`` must be pre-filtered to the
        html rows. ``n_tasks`` caps the python stage width for small
        batches (bodystore._bucketed)."""
        from .extract import PARSE_EXTRA_DDL, parse_pages_kernel

        schema = ", ".join(
            f"{f.name} {f.dataType.simpleString()}" for f in meta.schema.fields
        ) + ", " + PARSE_EXTRA_DDL
        return self.store.map_bodies(
            meta,
            parse_pages_kernel(extract_rules, carry_concat),
            schema,
            n_tasks=n_tasks or self.store.n_buckets,
        )
