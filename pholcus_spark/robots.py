"""robots.txt parsing → the engine's robots dim table.

[NORTH-RULE EXTENSION] The reference has no robots support (SURVEY.md:
zero hits for "robots" in the Go sources); BASELINE.json mandates
robots.txt + per-host crawl-delay enforcement. The ENGINE enforces a
``(host, disallow_prefixes, crawl_delay_ms)`` dim (broadcast-joined at
push + budget time); this module BUILDS that dim from fetched
``/robots.txt`` bodies, so a production crawl bootstraps politeness
from the sites themselves:

    robots_pages = fetch host roots + "/robots.txt" (any fetcher)
    robots_dim   = robots_dim_from_pages(robots_pages)
    CrawlEngine(spark, cat, fetcher, spec, robots_dim, cfg)

Parsing follows the de-facto standard (google robots.txt spec subset):
User-agent grouping with longest-agent-match selection, Disallow
prefixes (empty Disallow = allow all), Crawl-delay seconds (fractional
allowed), comments stripped, matching case-insensitive on field names.
Allow lines and wildcards are intentionally out of scope — the engine's
filter is prefix-based (SURVEY §2.3), and a conservative prefix subset
never crawls MORE than the full spec allows.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    LongType,
    StringType,
    StructField,
    StructType,
)


def parse_robots(text: str, agent: str = "pholcus") -> dict:
    """Parse one robots.txt body for ``agent``. Returns
    ``{"disallow_prefixes": [...], "allow_prefixes": [...],
    "crawl_delay_ms": int | None}``.

    Group selection: the group whose User-agent token is the longest
    (case-insensitive) substring match of ``agent`` wins; ``*`` is the
    fallback group. Records are separated by User-agent lines; multiple
    consecutive User-agent lines share one group. ``Allow`` lines are
    collected per group; precedence against Disallow is decided at
    match time by :func:`disallow_filter` (RFC 9309 longest-match-wins,
    allow on tie).
    """
    groups: dict[str, dict] = {}
    current: list[str] = []
    expecting_agents = True
    for raw in (text or "").splitlines():
        line = raw.split("#", 1)[0].strip()
        if not line or ":" not in line:
            continue
        field, _, value = line.partition(":")
        field = field.strip().lower()
        value = value.strip()
        if field == "user-agent":
            if not expecting_agents:
                current = []
            expecting_agents = True
            token = value.lower()
            current.append(token)
            groups.setdefault(
                token, {"disallow": [], "allow": [], "delay": None}
            )
        elif field in ("disallow", "allow", "crawl-delay"):
            expecting_agents = False
            for token in current:
                g = groups[token]
                if field == "disallow":
                    if value:
                        g["disallow"].append(value)
                elif field == "allow":
                    if value:
                        g["allow"].append(value)
                else:
                    try:
                        g["delay"] = float(value)
                    except ValueError:
                        pass
        # other fields (Sitemap, ...) are ignored
    agent_l = agent.lower()
    best = None
    for token in groups:
        if token != "*" and token in agent_l:
            if best is None or len(token) > len(best):
                best = token
    if best is None and "*" in groups:
        best = "*"
    if best is None:
        return {
            "disallow_prefixes": [],
            "allow_prefixes": [],
            "crawl_delay_ms": None,
        }
    g = groups[best]
    return {
        "disallow_prefixes": list(g["disallow"]),
        "allow_prefixes": list(g["allow"]),
        "crawl_delay_ms": int(g["delay"] * 1000) if g["delay"] is not None else None,
    }


_ROBOTS_TYPE = StructType(
    [
        StructField("disallow_prefixes", ArrayType(StringType())),
        StructField("allow_prefixes", ArrayType(StringType())),
        StructField("crawl_delay_ms", LongType()),
    ]
)


def robots_dim_from_pages(
    pages: DataFrame,
    agent: str = "pholcus",
    host_col: str = "host",
    body_col: str = "body",
) -> DataFrame:
    """Build the engine's robots dim from fetched robots.txt rows
    (one row per host: host + raw body bytes/text). Parsing runs as an
    Arrow-batched pandas UDF; output schema matches CrawlEngine's
    robots parameter exactly."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf(_ROBOTS_TYPE)
    def parse_udf(bodies: pd.Series) -> pd.DataFrame:
        outs = [
            parse_robots(
                b.decode("utf-8", "replace") if isinstance(b, (bytes, bytearray))
                else (b or ""),
                agent,
            )
            for b in bodies
        ]
        return pd.DataFrame(
            {
                "disallow_prefixes": [o["disallow_prefixes"] for o in outs],
                "allow_prefixes": [o["allow_prefixes"] for o in outs],
                "crawl_delay_ms": [o["crawl_delay_ms"] for o in outs],
            }
        )

    return pages.select(
        F.col(host_col).alias("host"), parse_udf(F.col(body_col)).alias("_r")
    ).select(
        "host",
        F.col("_r.disallow_prefixes").alias("disallow_prefixes"),
        F.col("_r.allow_prefixes").alias("allow_prefixes"),
        F.col("_r.crawl_delay_ms").alias("crawl_delay_ms"),
    )


def hosts_from_urls(df: DataFrame, url_col: str = "url") -> DataFrame:
    """Distinct ``(host, scheme)`` dim from a URL column (seed list or
    frontier) — the input :func:`fetch_robots_dim` wants. A host seen
    under both schemes resolves to https (fetching the https robots for
    an https-capable host is the conservative choice; an https-only
    host would silently get permissive defaults if probed over http).
    All-JVM: parse_url + groupBy, no collect."""
    return (
        df.select(
            F.lower(F.parse_url(F.col(url_col), F.lit("HOST"))).alias("host"),
            F.lower(F.parse_url(F.col(url_col), F.lit("PROTOCOL"))).alias(
                "scheme"
            ),
        )
        .where(F.col("host").isNotNull() & (F.col("host") != ""))
        .groupBy("host")
        .agg(F.max("scheme").alias("scheme"))  # https > http lexically
    )


def fetch_robots_dim(spark, hosts: DataFrame, fetcher, agent: str = "pholcus") -> DataFrame:
    """LIVE robots dim: fetch ``{scheme}://{host}/robots.txt`` for
    every host through any engine fetcher (httpfetch.HttpFetcher in
    production, FixtureFetcher in tests) and parse the bodies
    distributed.

    `hosts` carries one ``host`` row per distinct host, optionally with
    a ``scheme`` column (build it with :func:`hosts_from_urls` so
    https-only sites — most of the modern web — are probed over the
    scheme their seeds actually use; absent column → http). Derive it
    from the seed list or frontier with a distinct — a
    millions-of-hosts dim stays a DataFrame end to end; nothing
    driver-resident. A miss or error status yields the permissive
    default (no disallows, no crawl-delay), matching the reference's
    absent-robots behavior.
    """
    scheme = (
        F.coalesce(F.col("scheme"), F.lit("http"))
        if "scheme" in hosts.columns
        else F.lit("http")
    )
    wave = hosts.select(
        F.col("host"),
        F.concat(
            scheme, F.lit("://"), F.col("host"), F.lit("/robots.txt")
        ).alias("url"),
        F.lit("GET").alias("method"),
        F.lit("").alias("post_data"),
        # FixtureFetcher's retry model reads `tries` from the wave
        F.lit(0).alias("tries"),
    )
    fetched = fetcher.fetch(wave)
    ok = fetched.where(F.col("ok")).select("host", "body")
    parsed = robots_dim_from_pages(ok, agent=agent)
    # hosts without a (successful) robots.txt -> permissive defaults
    return hosts.select("host").join(parsed, "host", "left").select(
        "host",
        F.coalesce(
            F.col("disallow_prefixes"), F.array().cast("array<string>")
        ).alias("disallow_prefixes"),
        F.coalesce(
            F.col("allow_prefixes"), F.array().cast("array<string>")
        ).alias("allow_prefixes"),
        F.col("crawl_delay_ms"),
    )


def _longest_match_len(prefixes, path):
    """Length of the longest prefix in ``prefixes`` matching ``path``
    (NULL when none match) — the RFC 9309 rule-specificity measure,
    computed inside the broadcast join projection."""
    return F.array_max(
        F.transform(
            F.filter(prefixes, lambda p: path.startswith(p)),
            F.length,
        )
    )


def disallow_filter(df: DataFrame, robots: DataFrame, url_col: str) -> DataFrame:
    """Drop rows disallowed by robots rules for their host — the
    engine's frontier-push robots gate as a standalone primitive
    (broadcast the robots dim, prefix-match the path inside codegen;
    ``df`` must carry a ``host`` column).

    Precedence is RFC 9309 longest-match-wins: among all Allow and
    Disallow prefixes matching the path, the longest wins; on a length
    tie Allow wins (least-restrictive). Hosts absent from the dim, NULL
    prefix lists, or no matching rule at all pass (permissive default,
    matching the reference's absent-robots behavior). A robots dim
    without an ``allow_prefixes`` column behaves as all-Disallow
    (legacy shape)."""
    rcols = ["host", "disallow_prefixes"]
    has_allow = "allow_prefixes" in robots.columns
    if has_allow:
        rcols.append("allow_prefixes")
    path = F.coalesce(F.parse_url(F.col(url_col), F.lit("PATH")), F.lit(""))
    dmax = F.when(
        F.col("disallow_prefixes").isNotNull(),
        _longest_match_len(F.col("disallow_prefixes"), F.col("_path")),
    )
    amax = (
        F.when(
            F.col("allow_prefixes").isNotNull(),
            _longest_match_len(F.col("allow_prefixes"), F.col("_path")),
        )
        if has_allow
        else F.lit(None).cast("int")
    )
    out = (
        df.join(F.broadcast(robots.select(*rcols)), "host", "left")
        .withColumn("_path", path)
        .withColumn("_dmax", dmax)
        .withColumn("_amax", amax)
        .where(
            F.col("_dmax").isNull()
            | (F.col("_amax").isNotNull() & (F.col("_amax") >= F.col("_dmax")))
        )
        .drop("_path", "_dmax", "_amax", "disallow_prefixes")
    )
    return out.drop("allow_prefixes") if has_allow else out
