"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` exposes every SQL-expressible operator from SURVEY.md §2
plus the training-data pipeline ops (dedup / similarity / text); each
has a bit-exact DuckDB oracle in ``oracle_sql()`` built on the shared
portable subset (md5 + hex-cast 60-bit hash, sequential list folds for
float math, decimal-cast aggregation for distributed-sum determinism).

Crawl-scheduler semantics that are *not* SQL-expressible (the superstep
loop, failure-requeue state machine, Bloom sidecars, snapshot resume)
are pinned by the pytest conformance suite against the pure-Python
oracle instead (tests/test_engine_conformance.py, tests/test_resume.py).
"""

from __future__ import annotations

from collections.abc import Callable

import pandas as pd  # resolves pandas-UDF type hints under future-annotations
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def _load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ---------------------------------------------------------------------------
# shared portable fragments
# ---------------------------------------------------------------------------

# Exact distributed aggregation of money-ish doubles: cast the INPUT
# columns to decimal, do all arithmetic in decimal (exact,
# order-independent), emit as rounded double. Never round a double
# product before summing — round(double, n) is not bit-portable across
# engines; decimal-cast of 2-dp source data is.
def _dec_sum(col, alias):
    return F.round(F.sum(col).cast("double"), 4).alias(alias)


def _dec(name: str):
    return F.col(name).cast("decimal(18,4)")


def _sql_dec_sum(expr: str, alias: str) -> str:
    return f"round(CAST(sum({expr}) AS DOUBLE), 4) AS {alias}"


def _sql_dec(name: str) -> str:
    return f"CAST({name} AS DECIMAL(18,4))"


_H = "CAST(('0x' || substr(md5({x}), 1, 15)) AS BIGINT)"  # portable_hash64
_NORM = "regexp_replace(lower(trim({x})), '\\s+', ' ', 'g')"  # norm_text

# word-3-gram distinct shingles per doc (DuckDB side; Spark side is
# ops.dedup.word_shingles)
_SQL_SHINGLES = f"""
toks AS (
  SELECT doc_id, string_split({_NORM.format(x='text')}, ' ') AS w FROM documents
),
idx AS (
  SELECT doc_id, w, unnest(range(1, greatest(len(w) - 2, 1) + 1)) AS i FROM toks
),
sh AS (
  SELECT DISTINCT doc_id, array_to_string(list_slice(w, i, i + 2), ' ') AS shingle
  FROM idx
)
"""

# sequential double fold for dot/norm — same operand order as Spark's
# F.aggregate left fold, so results are bit-identical
_SQL_DOT = (
    "list_reduce(list_transform(range(1, {dim} + 1), "
    "i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)), (x, y) -> x + y)"
)
_SQL_NORM = (
    "sqrt(list_reduce(list_transform({a}, "
    "x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (x, y) -> x + y))"
)

EMB_DIM = 64


# ---------------------------------------------------------------------------
# query implementations
# ---------------------------------------------------------------------------


def q1_pricing_summary(spark, sf_dir):
    li = _load(spark, sf_dir, "lineitem")
    f = li.where(F.col("l_shipdate") <= "1998-09-02 00:00:00")
    ep, disc, tax = _dec("l_extendedprice"), _dec("l_discount"), _dec("l_tax")
    return (
        f.groupBy("l_returnflag", "l_linestatus")
        .agg(
            _dec_sum(_dec("l_quantity"), "sum_qty"),
            _dec_sum(ep, "sum_base_price"),
            _dec_sum(ep * (1 - disc), "sum_disc_price"),
            _dec_sum(ep * (1 - disc) * (1 + tax), "sum_charge"),
            F.count("*").alias("count_order"),
        )
    )


def q3_shipping_priority(spark, sf_dir):
    cust = _load(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    orders = _load(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < "1995-03-15 00:00:00"
    )
    li = _load(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > "1995-03-15 00:00:00"
    )
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(F.broadcast(cust), orders["o_custkey"] == cust["c_custkey"])
        .groupBy(
            "l_orderkey", F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate")
        )
        .agg(_dec_sum(_dec("l_extendedprice") * (1 - _dec("l_discount")), "revenue"))
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


def q_dedup_anti_join(spark, sf_dir):
    """Frontier dedup semantics as relational ops: candidate keys
    LEFT ANTI JOIN the seen set (matrix.go:81-86 ≡ hash anti-join)."""
    cand = _load(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("candidate_key")
    ).distinct()
    seen = _load(spark, sf_dir, "orders").where(
        F.col("o_orderstatus") == "F"
    ).select(F.col("o_orderkey").alias("candidate_key"))
    return cand.join(seen, "candidate_key", "left_anti")


def q_wave_select(spark, sf_dir):
    """Politeness wave selection: top-3 per 'host' (user) in
    deterministic order — row_number over (partition by host order by
    priority, seq) (matrix.go:101-124 pull order)."""
    ev = _load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    return (
        ev.withColumn("rn", F.row_number().over(w).cast("int"))
        .where(F.col("rn") <= 3)
        .select("user_id", "event_id", "rn")
    )


def q_priority_topk(spark, sf_dir):
    """Priority-bucket FIFO pop: top-5 per priority class."""
    o = _load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        o.withColumn("rn", F.row_number().over(w).cast("int"))
        .where(F.col("rn") <= 5)
        .select("o_orderpriority", "o_orderkey", "o_totalprice", "rn")
    )


def q_metrics_rollup(spark, sf_dir):
    """Counter aggregation (collector sums, collector.go:150-177)."""
    ev = _load(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
        _dec_sum(F.col("value").cast("decimal(28,8)"), "sum_value"),
        F.round(F.min("value"), 4).alias("min_value"),
        F.round(F.max("value"), 4).alias("max_value"),
    )


def q_keyin_fanout(spark, sf_dir):
    """Keyin token fan-out: explode(split(...)) (util.go:407-431)."""
    p = _load(spark, sf_dir, "part")
    return (
        p.select(F.explode(F.split(F.col("p_type"), " ")).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("n"))
    )


def q_sessionize(spark, sf_dir):
    """Event-time sessionization (30-min gap) via lag window."""
    ev = _load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    flag = F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    return (
        ev.withColumn("new_session", flag)
        .groupBy("user_id")
        .agg(
            # DuckDB sum(int) is HUGEINT — both sides pin BIGINT so the
            # value-hash comparison serializes identically
            F.sum("new_session").cast("long").alias("n_sessions"),
            F.count("*").alias("n_events"),
        )
    )


def q_asof_join(spark, sf_dir):
    """Backward as-of join (ops/temporal.py): every purchase event gets
    the latest at-or-before view event of the same user. Right side
    pre-deduped to one row per (user_id, ts) — max event_id wins — so
    the match is deterministic and DuckDB's ASOF JOIN agrees exactly.
    Scale shape: union + ONE key shuffle + per-partition sort; no
    range-join explosion."""
    from pholcus_spark.ops.temporal import asof_join

    ev = _load(spark, sf_dir, "events")
    vw = Window.partitionBy("user_id", "ts").orderBy(F.desc("event_id"))
    views = (
        ev.where(F.col("event_type") == "view")
        .withColumn("_vr", F.row_number().over(vw))
        .where(F.col("_vr") == 1)
        .select(
            "user_id", "ts",
            F.col("event_id").alias("view_id"),
            F.col("value").alias("view_value"),
        )
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        "ts",
        F.col("value").alias("purchase_value"),
    )
    out = asof_join(purchases, views, on=["user_id"], ts="ts", suffix="_v")
    return out.select(
        "purchase_id", "user_id",
        F.col("ts").alias("purchase_ts"),
        "purchase_value",
        F.col("view_id_v").alias("view_id"),
        F.col("view_value_v").alias("view_value"),
        F.col("ts_v").alias("view_ts"),
    )


def q_event_windows(spark, sf_dir):
    """Tumbling 1-day event rollup via F.window (the streaming-ready
    form — the identical plan runs under readStream + watermark);
    oracle = date_trunc bucketing."""
    from pholcus_spark.ops.temporal import tumbling_agg

    ev = _load(spark, sf_dir, "events")
    return tumbling_agg(
        ev, "1 day",
        group_cols=["event_type"],
        aggs=[
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 6).alias("sum_value"),
            F.count_distinct("user_id").alias("n_users"),
        ],
    ).select("bucket_start", "event_type", "n_events", "sum_value", "n_users")


def q_sliding_windows(spark, sf_dir):
    """Hopping 1-day/12-hour rollup via F.window(ts, window, slide):
    each event lands in window/slide = 2 overlapping buckets; oracle
    reconstructs the same epoch-aligned starts arithmetically."""
    from pholcus_spark.ops.temporal import sliding_agg

    ev = _load(spark, sf_dir, "events")
    return sliding_agg(
        ev, "1 day", "12 hours",
        group_cols=["event_type"],
        aggs=[
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        ],
    ).select("bucket_start", "event_type", "n_events", "sum_value")


def q_session_windows(spark, sf_dir):
    """Native F.session_window gap sessions (the declarative twin of
    q_sessionize's lag/cumsum and of the streaming stateful operator):
    session_end = last event + gap; an event at exactly session_end
    still merges (new session only at diff > gap)."""
    from pholcus_spark.ops.temporal import session_agg

    ev = _load(spark, sf_dir, "events")
    return session_agg(
        ev, "30 minutes",
        group_cols=["user_id"],
        aggs=[F.count("*").alias("n_events")],
    ).select("user_id", "session_start", "session_end", "n_events")


def q_cube_rollup(spark, sf_dir):
    """Multi-dimensional rollup via cube(event_type, day): every
    grouping-set combination incl. grand total in one pass (one
    shuffle — Spark expands grouping sets map-side). gid derives from
    the NULLed-out keys, portable across engines (neither column is
    nullable in the data)."""
    ev = _load(spark, sf_dir, "events")
    day = F.date_format("ts", "yyyy-MM-dd")
    return (
        ev.cube(F.col("event_type"), day.alias("day"))
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        )
        .select(
            "event_type", "day",
            (
                F.when(F.col("event_type").isNull(), 2).otherwise(0)
                + F.when(F.col("day").isNull(), 1).otherwise(0)
            ).cast("long").alias("gid"),
            "n_events", "sum_value",
        )
    )


def q_pivot(spark, sf_dir):
    """Wide per-user event-type counts: groupBy(user).pivot(type) with
    an explicit value list (deterministic columns; at scale the pivot
    is one shuffle + map-side conditional aggregation, same cost class
    as the oracle's FILTER form)."""
    ev = _load(spark, sf_dir, "events")
    types = ["click", "error", "purchase", "signup", "view"]
    return (
        ev.groupBy("user_id")
        .pivot("event_type", types)
        .agg(F.count(F.lit(1)))
        .na.fill(0, types)
    )


def q_url_canonical(spark, sf_dir):
    """The crawler's URL canonicalizer (keys.py — the function under
    every dedup key) gated end-to-end: deterministic messy URLs are
    synthesized from doc_id (uppercase scheme/host, default and
    non-default ports, empty path, unsorted query, fragment), pushed
    through the REAL Arrow-vectorized canonicalize/host UDFs, and
    compared against the oracle's independently hand-derived canonical
    forms."""
    from pholcus_spark.keys import canonicalize_url_udf, host_of_udf

    d = _load(spark, sf_dir, "documents").select("doc_id")
    m7 = (F.col("doc_id") % 7).cast("string")
    did = F.col("doc_id").cast("string")
    raw = (
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                F.lit("HTTP://Host"), m7, F.lit(".Example.COM:80/p/"),
                did, F.lit("?b=2&a=1#frag"),
            ),
        )
        .when(
            F.col("doc_id") % 3 == 1,
            F.concat(F.lit("http://host"), m7, F.lit(".example.com:8080?z=1")),
        )
        .otherwise(
            F.concat(F.lit("https://Host"), m7, F.lit(".example.com:443/x%20y/"))
        )
    )
    return d.withColumn("raw_url", raw).select(
        "doc_id",
        canonicalize_url_udf(F.col("raw_url")).alias("canon_url"),
        host_of_udf(F.col("raw_url")).alias("host"),
    )


def q_file_output_name(spark, sf_dir):
    """ctx.FileOutput name derivation (context.go:247-284) gated
    end-to-end: deterministic download URLs are synthesized from doc_id
    (plain ext, multi-dot ext, extension-less, query-carrying,
    trailing-slash) and pushed through the REAL pure-JVM naming column
    under the four arg shapes a rule can declare — default, new stem
    (``FileOutput("baidu")``), ext-only override, dir-carrying stem —
    and compared against an independent SQL restatement."""
    from pholcus_spark.sinks import file_output_name_col

    d = _load(spark, sf_dir, "documents").select("doc_id")
    did = F.col("doc_id").cast("string")
    url = (
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(F.lit("http://h.test/img/logo_"), did, F.lit(".png")),
        )
        .when(
            F.col("doc_id") % 5 == 1,
            F.concat(F.lit("http://h.test/f/arch_"), did, F.lit(".tar.gz")),
        )
        .when(
            F.col("doc_id") % 5 == 2,
            F.concat(F.lit("http://h.test/p/page_"), did),
        )
        .when(
            F.col("doc_id") % 5 == 3,
            F.concat(F.lit("http://h.test/dl/blob_"), did, F.lit(".bin?sid="), did),
        )
        .otherwise(F.concat(F.lit("http://h.test/dir_"), did, F.lit("/")))
    )
    return d.withColumn("url", url).select(
        "doc_id",
        "url",
        file_output_name_col("url").alias("name_default"),
        file_output_name_col("url", "baidu").alias("name_stem"),
        file_output_name_col("url", ".webp").alias("name_ext"),
        file_output_name_col("url", "sub/dir/cover").alias("name_dir"),
    )


def q_warc_roundtrip(spark, sf_dir):
    """WARC source/sink (ISO 28500) gated end-to-end: the documents
    table is exported as per-partition .warc.gz archives (one gzip
    member per record, Common-Crawl convention), read back through the
    binaryFile + mapInPandas record splitter, and must reproduce every
    (doc_id, text) pair byte-exactly — the oracle is the identity
    query, so any framing/gzip/splitting defect breaks the hash."""
    import tempfile

    from pholcus_spark.sources.warc import read_warc, write_warc

    d = _load(spark, sf_dir, "documents").select("doc_id", "text")
    src = d.select(
        F.concat(F.lit("http://docs.test/"), F.col("doc_id")).alias(
            "target_uri"
        ),
        F.encode("text", "utf-8").alias("payload"),
        F.concat(
            F.lit("<urn:uuid:doc-"), F.col("doc_id"), F.lit(">")
        ).alias("record_id"),
    )
    out = tempfile.mkdtemp(prefix="pholcus-warc-gate-")
    write_warc(src.repartition(8), out, content_type="text/plain")
    return read_warc(spark, out).select(
        F.regexp_extract("target_uri", r"/(\d+)$", 1)
        .cast("long")
        .alias("doc_id"),
        F.decode("payload", "utf-8").alias("text"),
    )


def text_token_count(spark, sf_dir):
    from pholcus_spark.ops.text import token_count

    return token_count(_load(spark, sf_dir, "documents"))


def text_quality(spark, sf_dir):
    from pholcus_spark.ops.text import quality_score

    return quality_score(_load(spark, sf_dir, "documents"))


def text_gopher(spark, sf_dir):
    from pholcus_spark.ops.text import gopher_rules

    return gopher_rules(_load(spark, sf_dir, "documents"))


def text_lang_id(spark, sf_dir):
    from pholcus_spark.ops.text import lang_id

    return lang_id(_load(spark, sf_dir, "documents"))


def text_fingerprint(spark, sf_dir):
    from pholcus_spark.ops.text import fingerprint

    return fingerprint(_load(spark, sf_dir, "documents"))


def text_main_content(spark, sf_dir):
    """Main-content extraction (`ops/text.py:main_content` — the
    reference's commonPrase/findP heuristic, baidunews.go:183-216, as a
    boilerplate-removal pipeline op): each document is rendered into a
    page with a link-bearing nav (and a DECOY h1 in it) plus an article
    div whose last h1 sits next to <p> paragraphs; the op must climb to
    the article container and drop the nav. DuckDB reconstructs the
    expected inner HTML from the raw columns — the page never exists
    oracle-side, so the tree walk is validated end-to-end (the
    engine-vs-SAX-oracle fuzz in tests/test_content.py covers the
    branchier tag-soup semantics)."""
    from pholcus_spark.ops.text import main_content

    docs = _load(spark, sf_dir, "documents")
    w = F.split(F.col("text"), " ")
    html = F.concat(
        F.lit('<html><body><div id="nav"><h1>MENU</h1><a href="/x">'),
        F.col("source"),
        F.lit('</a></div><div class="art"><h1>'),
        F.element_at(w, 1),
        F.lit("</h1><p>"),
        F.array_join(F.slice(w, 1, 5), " "),
        F.lit("</p><p>"),
        F.col("lang"),
        F.lit("</p></div></body></html>"),
    )
    return main_content(docs.withColumn("html", html), html_col="html")


def text_clean_html(spark, sf_dir):
    from pholcus_spark.ops.text import clean_html_docs

    return clean_html_docs(_load(spark, sf_dir, "documents"))


def q_json_extract(spark, sf_dir):
    """JSON parse-helper surface (SURVEY §2.5: the reference's
    ctx JSON helpers): the events.props JSON string is parsed JVM-side
    with from_json (JsonToStructs, codegen) — no Python in the plan —
    then aggregated per event type."""
    ev = _load(spark, sf_dir, "events")
    k = F.from_json(F.col("props"), "k INT").getField("k")
    return (
        ev.withColumn("k", k)
        .groupBy("event_type")
        .agg(
            F.sum("k").cast("long").alias("sum_k"),
            F.count(F.when(F.col("k") > 50, 1)).cast("long").alias("n_high"),
            _dec_sum(F.col("value").cast("decimal(18,4)"), "sum_value"),
        )
    )


def q_css_extract(spark, sf_dir):
    """CSS-selector ExtractRule surface (SURVEY §2.6: the goquery
    Find/Attr/Text form every reference rule is written in,
    `common/goquery/traversal.go:23-402`): each document is rendered
    into a small HTML card JVM-side, then the kind="css" rule pulls the
    head span text, tail span text, and a data- attribute back out via
    one Arrow-batched pandas UDF. The oracle reconstructs the expected
    values from the raw text columns with DuckDB list ops — the HTML
    never exists on the oracle side, so a css parsing/projection bug
    cannot cancel out."""
    from pyspark.sql.functions import pandas_udf

    from pholcus_spark.extract import (
        apply_rule_spec,
        compile_rule_specs,
        rule_spec_tuples,
    )
    from pholcus_spark.spiderspec import ExtractRule

    er = ExtractRule(
        rule="doc", kind="css", item_pattern="div.doc",
        fields=(
            "head", "tail", "nc", "w3", "wlast", "w2c", "hhtml",
            "bjoin", "sj",
        ),
        field_css=(
            ("head", "span.head@text"),
            ("tail", "span.tail@text"),
            ("nc", "@data-n"),
            # indexed projections (goquery .Eq(n)/.Last() — the
            # shunfenghaitao.go:98 chain shape): head words are each
            # wrapped in <b>, so these pull the 3rd and the last one
            ("w3", "span.head@eq(0) b@eq(2)@text"),
            ("wlast", "b@last@text"),
            # Children().Eq(n) idiom (fang_resell_list.go:106-108):
            # 2nd element child of the head span = 2nd <b> word
            ("w2c", "span.head > *@eq(1)@text"),
            # .Html() (jiban.go:104): inner HTML of the head span —
            # the <b>-wrapped words, re-serialized
            ("hhtml", "span.head@html"),
            # @each — goquery .Each accumulation (car_home.go:113-128)
            # / multi-selection .Text(): all <b> words joined with |
            ("bjoin", "b@each(|)@text"),
            # per-match sub-chain: 2nd <b> of EVERY span (the tail
            # span has none → an empty slot keeps its join position)
            ("sj", "span@each(;) b@eq(1)@text"),
        ),
    )
    specs = rule_spec_tuples([er])

    @pandas_udf(
        "head string, tail string, nc string, w3 string, wlast string, "
        "w2c string, hhtml string, bjoin string, sj string"
    )
    def _css(htmls: pd.Series) -> pd.DataFrame:
        _r, kind, key, fields, *_rest = compile_rule_specs(specs)[0]
        rows = [apply_rule_spec(h, kind, key, fields)[0] for h in htmls]
        return pd.DataFrame(
            rows,
            columns=[
                "head", "tail", "nc", "w3", "wlast", "w2c", "hhtml",
                "bjoin", "sj",
            ],
        )

    from pholcus_spark.session import spread_scan

    # spread (guide §4/§6): the css pandas UDF stage inherits the scan
    # width — one row group = ONE python worker otherwise
    docs = spread_scan(_load(spark, sf_dir, "documents"))
    w = F.split(F.col("text"), " ")
    head = F.array_join(
        F.transform(
            F.slice(w, 1, 5),
            lambda x: F.concat(F.lit("<b>"), x, F.lit("</b>")),
        ),
        " ",
    )
    tail = F.array_join(F.expr("slice(split(text, ' '), 6, greatest(size(split(text, ' ')) - 5, 0))"), " ")
    html = F.concat(
        F.lit('<html><body><div class="doc" data-n="'),
        F.col("n_chars").cast("string"),
        F.lit('"><span class="head">'), head,
        F.lit('</span><span class="tail">'), tail,
        F.lit("</span></div></body></html>"),
    )
    return (
        docs.withColumn("_x", _css(html))
        .select(
            "doc_id",
            F.col("_x.head").alias("head"),
            F.col("_x.tail").alias("tail"),
            F.col("_x.nc").alias("nc"),
            F.col("_x.w3").alias("w3"),
            F.col("_x.wlast").alias("wlast"),
            F.col("_x.w2c").alias("w2c"),
            F.col("_x.hhtml").alias("hhtml"),
            F.col("_x.bjoin").alias("bjoin"),
            F.col("_x.sj").alias("sj"),
        )
    )


def q_xml_extract(spark, sf_dir):
    """XML ExtractRule surface (SURVEY §2.5: the reference's
    encoding/xml Unmarshal rules, baidunews.go:53-66 + 113-136): each
    document is rendered into a small RSS-shaped XML JVM-side, then the
    kind="xml" rule pulls the fields back out through one Arrow-batched
    pandas UDF — exercising repeated-scalar last-wins, direct-chardata
    (nested element skipped), entity decode, and absent-field → ''.
    The oracle reconstructs the expected values from the raw text
    columns with DuckDB string ops — the XML never exists oracle-side,
    so a parser/semantics bug cannot cancel out."""
    from pyspark.sql.functions import pandas_udf

    from pholcus_spark.extract import apply_rule_spec
    from pholcus_spark.spiderspec import ExtractRule

    er = ExtractRule(
        rule="doc", kind="xml", item_pattern="channel.item",
        fields=("title", "langd", "nc", "author"),
    )

    @pandas_udf("title string, langd string, nc string, author string")
    def _xml(xmls: pd.Series) -> pd.DataFrame:
        rows = [
            (apply_rule_spec(x, er.kind, er.item_pattern, er.fields) or
             [dict.fromkeys(er.fields, "")])[0]
            for x in xmls
        ]
        return pd.DataFrame(rows, columns=list(er.fields))

    def esc(c):
        c = F.regexp_replace(c, "&", "&amp;")
        c = F.regexp_replace(c, "<", "&lt;")
        return F.regexp_replace(c, ">", "&gt;")

    docs = _load(spark, sf_dir, "documents")
    w1 = esc(F.element_at(F.split(F.col("text"), " "), 1))
    xml = F.concat(
        F.lit("<rss><channel><meta>x</meta><item>"
              "<title>IGNORED</title><title>"),
        w1,  # repeated scalar: last wins (encoding/xml overwrite)
        F.lit("</title><langd>"),
        esc(F.col("lang")),
        # nested element's text must be SKIPPED (saveData-at-depth-1),
        # its tail kept as direct chardata
        F.lit("<skip>zz</skip>-t</langd><nc>"),
        F.col("n_chars").cast("string"),
        F.lit("</nc>"),
        F.when(
            F.col("doc_id") % 2 == 0,
            F.concat(F.lit("<author>"), esc(F.col("source")),
                     F.lit("</author>")),
        ).otherwise(F.lit("")),  # absent field → ''
        F.lit("</item></channel></rss>"),
    )
    return (
        docs.withColumn("_x", _xml(xml))
        .select(
            "doc_id",
            F.col("_x.title").alias("title"),
            F.col("_x.langd").alias("langd"),
            F.col("_x.nc").alias("nc"),
            F.col("_x.author").alias("author"),
        )
    )


def q_accumulate_items(spark, sf_dir):
    """The taobao Temp-append accumulator re-expressed relationally
    (`sinks.accumulate_items`, taobao.go:234-259/292): scalar partial
    items (one per key) merged with their list-rule page segments in
    page order. Items-shaped rows are synthesized from orders (the
    detail partial, with a stale 'comments' value that must be
    REPLACED) and lineitem (one comment segment per line number);
    DuckDB replays with string_agg ORDER BY + left join."""
    from pholcus_spark.sinks import accumulate_items
    from pholcus_spark.session import spread_scan

    # spread (guide §6): the items-shaped map construction over 750k
    # rows is map-side work ahead of the first exchange — serial on
    # these one-row-group scans otherwise
    orders = spread_scan(_load(spark, sf_dir, "orders"))
    li = spread_scan(_load(spark, sf_dir, "lineitem"))
    prov = [
        F.lit("").alias("parent_url"),
        F.lit(1).alias("superstep"),
    ]
    scalar = orders.select(
        F.lit("tao").alias("spider"),
        F.lit("商品详情").alias("rule"),
        F.create_map(
            F.lit("itemId"), F.col("o_orderkey").cast("string"),
            F.lit("title"), F.col("o_orderpriority"),
            F.lit("comments"), F.lit("stale"),
        ).alias("data"),
        F.concat(F.lit("http://t/o/"), F.col("o_orderkey")).alias("url"),
        *prov,
    )
    segs = li.select(
        F.lit("tao").alias("spider"),
        F.lit("商品评论").alias("rule"),
        F.create_map(
            F.lit("itemId"), F.col("l_orderkey").cast("string"),
            F.lit("page"), F.col("l_linenumber").cast("string"),
            F.lit("comments"),
            F.concat(
                F.col("l_returnflag"), F.lit("@"),
                F.col("l_shipdate").cast("string"),
            ),
        ).alias("data"),
        F.concat(
            F.lit("http://t/c/"), F.col("l_orderkey"),
            F.lit("?p="), F.col("l_linenumber"),
        ).alias("url"),
        *prov,
    )
    out = accumulate_items(
        scalar.unionByName(segs),
        key_field="itemId",
        scalar_rule="商品详情",
        list_rule="商品评论",
        list_field="comments",
        page_field="page",
        out_rule="结果",
    )
    return out.select(
        "rule",
        F.try_element_at("data", F.lit("itemId")).alias("item_id"),
        F.try_element_at("data", F.lit("title")).alias("title"),
        F.try_element_at("data", F.lit("comments")).alias("comments"),
        "url",
    )


def q_global_rank(spark, sf_dir):
    """The engine's distributed global-ordering primitive
    (`engine.two_phase_rank` — seq assignment for seed merge, failure
    requeue, and children push) oracle-checked end to end: a total
    order over lineitem WITHOUT a single-partition exchange, vs
    DuckDB's row_number() over the same (unique) sort key. The range
    boundaries are sampled once, inside the one sorted checkpoint that
    both the partition counts and the ranks read, so the assembled rank
    is exactly the single-window rank. The rank runs at 32 range
    partitions with AQE coalescing off, so the offsets of many
    partitions are checked, not one merged range."""
    from pholcus_spark.engine import two_phase_rank

    li = _load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_shipdate"
    )
    confs = {
        "spark.sql.shuffle.partitions": "32",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
    }
    saved = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        ranked, _n = two_phase_rank(
            li,
            [F.asc("l_shipdate"), F.asc("l_orderkey"), F.asc("l_linenumber")],
            "rnk",
            lambda df: df.localCheckpoint(eager=True),
        )
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
    return ranked.select(
        "l_orderkey", "l_linenumber", F.col("rnk").cast("long").alias("rnk")
    )


def q_top_per_source(spark, sf_dir):
    """Corpus-diversity cap — at most k docs per source/domain, the
    standard web-corpus curation step — via the skew-safe two-phase
    per-group top-k (salted local rank bounds the heaviest group's
    task; exact rank runs over <= k*n_salts survivors). Oracle is the
    plain single-window row_number the two-phase plan must equal."""
    from pholcus_spark.ops.sampling import top_k_per_group

    docs = _load(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    return top_k_per_group(
        docs, "source", [("n_chars", "desc"), ("doc_id", "asc")], 3
    ).select(
        "doc_id", "source", "n_chars", F.col("rk").cast("long").alias("rk")
    )


def dedup_exact(spark, sf_dir):
    from pholcus_spark.ops.dedup import exact_duplicates

    return exact_duplicates(_load(spark, sf_dir, "documents"))


def dedup_ngram_jaccard(spark, sf_dir):
    from pholcus_spark.ops.dedup import ngram_jaccard_pairs

    return ngram_jaccard_pairs(
        _load(spark, sf_dir, "documents"), n=3, threshold=0.1
    )


def dedup_minhash_lsh(spark, sf_dir):
    from pholcus_spark.ops.dedup import minhash_lsh_candidates

    return minhash_lsh_candidates(
        _load(spark, sf_dir, "documents"), num_hashes=16, bands=4, n=3
    )


def dedup_simhash(spark, sf_dir):
    from pholcus_spark.ops.dedup import simhash

    return simhash(_load(spark, sf_dir, "documents"), bits=32)


def dedup_simhash_pairs(spark, sf_dir):
    from pholcus_spark.ops.dedup import simhash_neardup_pairs

    return simhash_neardup_pairs(
        _load(spark, sf_dir, "documents"), bits=32, max_hamming=3
    )


def dedup_embedding(spark, sf_dir):
    from pholcus_spark.ops.dedup import embedding_neardup_pairs

    return embedding_neardup_pairs(
        _load(spark, sf_dir, "embeddings"), threshold=0.35
    )


def dedup_embedding_lsh(spark, sf_dir):
    from pholcus_spark.ops.dedup import embedding_neardup_lsh

    return embedding_neardup_lsh(
        _load(spark, sf_dir, "embeddings"),
        threshold=0.35,
        dim=EMB_DIM,
        num_planes=8,
    )


def sim_cosine_topk(spark, sf_dir):
    from pholcus_spark.ops.similarity import cosine_topk

    return cosine_topk(_load(spark, sf_dir, "embeddings"), query_vec_id=7, k=10)


def sim_ann_lsh(spark, sf_dir):
    from pholcus_spark.ops.similarity import ann_lsh_topk

    return ann_lsh_topk(
        _load(spark, sf_dir, "embeddings"),
        query_vec_id=7,
        k=10,
        dim=EMB_DIM,
        num_planes=8,
    )


def dedup_semantic(spark, sf_dir):
    """SemDeDup (clustering-based semantic near-dup removal,
    `ops/cluster.py`): Lloyd k-means over the int8-quantized embedding
    corpus (k=4, 2 iterations, deterministic md5-sample init), then
    within-cluster cosine ≥ 0.35 marks dups of the smallest same-cluster
    id. Every sum is int64 (order-independent), the only floats are one
    IEEE division/sqrt on identical integers — so the oracle replays the
    ENTIRE iterative algorithm (quantize → init → 2×(assign, update) →
    pair join) bit-exactly in unrolled SQL.

    ``max_cluster`` engages the shared skew guard by default (same
    discipline as the LSH family's max_bucket): a degenerate corpus
    where one cluster swallows everything is bounded at cap×cluster
    pairs instead of cluster². No sf≤0.1 cluster comes near 4096
    members, so the gate output is byte-identical to the uncapped
    oracle replay."""
    from pholcus_spark.ops.cluster import semantic_dedup

    return semantic_dedup(
        _load(spark, sf_dir, "embeddings"), k=4, iters=2, threshold=0.35,
        max_cluster=4096,
    )


def dedup_lines(spark, sf_dir):
    """Corpus-wide exact line dedup (C4 / RefinedWeb curation step,
    `ops/dedup.py:line_dedup`): every line whose trimmed form repeats
    across the corpus survives only at its first (doc, position)
    occurrence; short lines (< 2 words) are exempt. Lines are
    synthesized deterministically by breaking the raw text on the
    literal ' table ' separator — both engines build the same lined
    text from the same raw column, then compute the dedup with
    INDEPENDENT plans (Spark: skew-safe min-aggregate + re-join;
    DuckDB: row_number window)."""
    from pholcus_spark.ops.dedup import line_dedup

    lined = _load(spark, sf_dir, "documents").select(
        "doc_id", F.regexp_replace("text", " table ", "\n").alias("text")
    )
    return line_dedup(lined, text_col="text", min_words=2)


def dedup_incremental(spark, sf_dir):
    """Incremental corpus dedup against a persistent fingerprint store
    (`ops/seenstore.py` — the engine's 10^10-key url_seen machinery
    factored for content keys): the documents table arrives as two
    batches (even/odd doc_id split); batch 1's normalized-text md5
    fingerprints are committed to a fresh SeenStore with a forced
    sidecar build, then batch 2 flows through the cogrouped Bloom probe
    + exact-tail path. Output = batch-2 survivors (key absent from
    batch 1; min-doc_id representative within batch 2). The store root
    is a throwaway tmp dir — the returned frame stays readable until
    the session ends; batch sizes at gate scale are trivial."""
    import tempfile

    from pholcus_spark.ops.seenstore import SeenStore
    from pholcus_spark.ops.text import norm_text

    docs = _load(spark, sf_dir, "documents")
    key = F.md5(norm_text(F.col("text"))).alias("key")
    b1 = docs.where(F.col("doc_id") % 2 == 0).select(key)
    b2 = (
        docs.where(F.col("doc_id") % 2 == 1)
        .select("doc_id", key)
        .groupBy("key")
        .agg(F.min("doc_id").alias("doc_id"))
    )
    store = SeenStore(
        spark,
        tempfile.mkdtemp(prefix="pholcus-seen-gate-"),
        num_buckets=8,
        rebuild_min=0,  # sidecar built at add → the gate runs the probe
    )
    store.add(b1)
    return store.filter_unseen(b2).select("doc_id", "key")


def dedup_components(spark, sf_dir):
    """Near-dup clustering: connected components (iterative min-label
    propagation — one shuffle per round) over the MinHash/LSH candidate
    pairs; each doc maps to its cluster's canonical (min) doc id.
    The oracle computes the same components with a DuckDB recursive-CTE
    transitive closure (tractable at gate scale)."""
    from pholcus_spark.ops.dedup import connected_components, minhash_lsh_candidates

    docs = _load(spark, sf_dir, "documents")
    pairs = minhash_lsh_candidates(docs, num_hashes=16, bands=4, n=3)
    return connected_components(pairs).orderBy("doc_id")


def sim_knn_batch(spark, sf_dir):
    """Batch k-NN: every 50th vector queries the corpus through the
    bucket-partitioned LSH join (no per-query scan)."""
    from pholcus_spark.ops.similarity import knn_batch_lsh

    emb = _load(spark, sf_dir, "embeddings")
    qs = emb.where(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    return knn_batch_lsh(emb, qs, k=5, dim=EMB_DIM, num_planes=8)


def sim_knn_ivf(spark, sf_dir):
    """Batch k-NN through the IVF inverted-list index (the LSH path's
    quantizer-based twin): hash-sampled deterministic centroids, map-
    side cell assignment + probe expansion, one equi-join on cell."""
    from pholcus_spark.ops.similarity import knn_batch_ivf

    emb = _load(spark, sf_dir, "embeddings")
    qs = emb.where(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    return knn_batch_ivf(emb, qs, k=5, n_cells=16, nprobe=4)


# deterministic PII injection shared (by construction) between the
# Spark gate and the DuckDB oracle: every 3rd doc gets one email, one
# ipv4, and one intl phone appended — synthetic testdata has no real
# PII, so the gate manufactures known spans and the md5 of the redacted
# text pins the exact replacement boundaries on both sides
def _dirty_docs(spark, sf_dir):
    docs = _load(spark, sf_dir, "documents")
    d = F.col("doc_id")
    inject = F.concat(
        F.col("text"),
        F.lit(" reach u"), d.cast("string"),
        F.lit("@mail"), (d % 7).cast("string"),
        F.lit(".example.org via 10."), (d % 200).cast("string"),
        F.lit(".0."), (d % 250).cast("string"),
        F.lit(" or +1 (555) 01"),
        F.lpad((d % 100).cast("string"), 2, "0"),
    )
    return docs.withColumn(
        "text", F.when(d % 3 == 0, inject).otherwise(F.col("text"))
    )


def text_pii_scrub(spark, sf_dir):
    from pholcus_spark.ops.text import pii_scrub

    dirty = _dirty_docs(spark, sf_dir)
    return pii_scrub(dirty).select(
        "doc_id", "n_email", "n_ipv4", "n_phone",
        F.md5("text_clean").alias("clean_md5"),
    )


BM25_TERMS = ("spark", "customer", "window")


def text_bm25(spark, sf_dir):
    """BM25 top-k keyword retrieval (`ops/text.py:bm25_topk`): map-side
    higher-order term frequencies (no explode, no per-term shuffle),
    one broadcast 1-row stats crossJoin, TakeOrdered top-k. Scoring is
    cross-engine exact: raw RSJ odds idf (no libm log), fixed-order
    contribution sum, every division over identical integers — DuckDB
    replays it with list_filter + a stats CTE."""
    from pholcus_spark.ops.text import bm25_topk

    return bm25_topk(_load(spark, sf_dir, "documents"), BM25_TERMS, k=15)


def text_url_filter(spark, sf_dir):
    """URL-based curation (`ops/text.py:url_quality_flags`) — the
    RefinedWeb/FineWeb filtering stage that gates documents on their
    URL before any text is read: domain blocklist, TLD allowlist,
    length, path depth, tracking-parameter query, digit-heavy path.
    The documents table has no URL column, so the gate synthesizes one
    deterministically from (source, doc_id) — same convention as
    dedup_lines' synthesized lines — exercising every signal. All
    row-local regexp/string expressions (one scan, no UDF, no shuffle);
    DuckDB replays the identical synthesis + regexps."""
    from pholcus_spark.ops.text import url_quality_flags

    docs = _load(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("http://"),
        F.col("source"),
        F.when(F.col("doc_id") % 7 == 0, F.lit(".biz")).otherwise(
            F.lit(".com")
        ),
        F.lit("/"),
        F.repeat(F.lit("sec/"), (F.col("doc_id") % 5).cast("int")),
        F.when(
            F.col("doc_id") % 11 == 0,
            F.concat(
                (F.col("doc_id") * 1103).cast("string"), F.lit("9988/")
            ),
        ).otherwise(F.lit("")),
        F.lit("doc-"),
        F.col("doc_id").cast("string"),
        F.when(F.col("doc_id") % 3 == 0, F.lit("?utm_campaign=x&p=1"))
        .when(F.col("doc_id") % 5 == 0, F.lit("?q=ok"))
        .otherwise(F.lit("")),
    )
    return url_quality_flags(
        docs.select("doc_id", url.alias("url")),
        blocked_domains=("src2.com", "src5.com"),
        max_path_depth=3,
    ).select(
        "doc_id", "url", "url_host", "url_domain", "blocked_domain",
        "bad_tld", "too_long", "deep_path", "tracking_query",
        "digit_heavy_path", "url_keep",
    )


def text_decontaminate(spark, sf_dir):
    """Benchmark decontamination (broadcast eval-set shingles, map-side
    semi-join probe): benchmark = every 97th doc; survivors are docs
    sharing no word-8-gram with it."""
    from pholcus_spark.ops.text import decontaminate

    docs = _load(spark, sf_dir, "documents")
    bench = docs.where(F.col("doc_id") % 97 == 0)
    return decontaminate(docs, bench, n=8).select("doc_id", "lang", "source")


def q_hash_sample(spark, sf_dir):
    from pholcus_spark.ops.sampling import hash_sample

    docs = _load(spark, sf_dir, "documents")
    return hash_sample(docs, "doc_id", 0.25, salt="s1").select("doc_id", "lang")


def q_stratified_sample(spark, sf_dir):
    """Language rebalancing: per-stratum keep fractions, one codegen'd
    CASE, no join/shuffle in the plan."""
    from pholcus_spark.ops.sampling import stratified_hash_sample

    docs = _load(spark, sf_dir, "documents")
    return stratified_hash_sample(
        docs, "doc_id", "lang",
        {"en": 0.5, "de": 0.25, "zh": 0.05}, default=0.1,
    ).select("doc_id", "lang")


def q_train_split(spark, sf_dir):
    from pholcus_spark.ops.sampling import train_holdout_split

    docs = _load(spark, sf_dir, "documents")
    return (
        train_holdout_split(docs, "doc_id", 0.1, salt="v1")
        .groupBy("split")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.min("doc_id").alias("min_id"),
            F.max("doc_id").alias("max_id"),
        )
    )


def q_dsir_weights(spark, sf_dir):
    """DSIR-style data selection (`ops/sampling.py:dsir_select` —
    Xie et al. 2023): hashed unigram+bigram features (64 buckets),
    add-one-smoothed bucket-probability ratios between the en-language
    target slice and the full raw corpus, per-doc score = ordered fold
    of f_b·r_b rounded to 4dp, top-50 by (score desc, doc_id). Every
    arithmetic step is an IEEE op on identical integers, so DuckDB
    replays the whole pipeline bit-exactly — incl. the fold order
    (list_reduce over a bucket-ordered list)."""
    from pholcus_spark.ops.sampling import dsir_select

    docs = _load(spark, sf_dir, "documents")
    return dsir_select(
        docs, docs.where(F.col("lang") == "en"), n=50, n_buckets=64
    )


# north-rule pair table (image_id, w, h, fmt, caption, phash) derived
# deterministically from documents — the driver's testdata carries no
# binary image table, so both engines build the SAME metadata view
# (bytes are irrelevant to every metadata-level pair operator, and the
# engine's own images sink is exercised by the conformance suite). The
# phash derivation plants exact-dup captions at hamming ≤ 4 (shared
# high bits, doc_id%16 low bits) so the banded near-dup join has real
# positives to find.
def _derived_pairs(spark, sf_dir):
    from pholcus_spark.ops.text import norm_text, portable_hash64

    docs = _load(spark, sf_dir, "documents")
    d = F.col("doc_id")
    t = F.col("text")
    # two planted stock-caption groups (~1/31 of docs each): the corpus
    # texts are all distinct, so without these caption_dedup would be a
    # trivial keep-everything and the phash near-dup join would verify
    # only chance band collisions (0 pairs)
    caption = (
        F.when(d % 31 == 3, F.lit("stock photo of a sunset over water"))
        .when(d % 31 == 7, F.lit("logo placeholder image"))
        .otherwise(t)
    )
    return docs.select(
        F.concat(F.lit("img"), d.cast("string")).alias("image_id"),
        (F.lit(16) + portable_hash64(F.concat(t, F.lit("w"))) % 2048)
        .cast("int").alias("w"),
        (F.lit(16) + portable_hash64(F.concat(t, F.lit("h"))) % 2048)
        .cast("int").alias("h"),
        F.when(d % 3 == 0, F.lit("png"))
        .when(d % 3 == 1, F.lit("jpeg"))
        .otherwise(F.lit("webp")).alias("fmt"),
        caption.alias("caption"),
        portable_hash64(norm_text(caption))
        .bitwiseAND(F.lit(-16)).bitwiseOR(d % 16).alias("phash"),
    )


def q_pair_filter(spark, sf_dir):
    """LAION-style pair curation filter: pure codegen filter/project,
    integer-quantized aspect (no float rounding anywhere)."""
    from pholcus_spark.ops.imagecaption import pair_filter

    return pair_filter(_derived_pairs(spark, sf_dir)).select(
        "image_id", "w", "h", "fmt", "aspect_q4", "caption_tokens"
    )


def q_caption_dedup(spark, sf_dir):
    from pholcus_spark.ops.imagecaption import caption_dedup

    return caption_dedup(_derived_pairs(spark, sf_dir)).select(
        "image_id", "caption_fp"
    )


def q_pair_phash_neardup(spark, sf_dir):
    from pholcus_spark.ops.imagecaption import pair_phash_neardup

    return pair_phash_neardup(_derived_pairs(spark, sf_dir), max_hamming=4)


def _sharded_pairs(spark, sf_dir):
    from pholcus_spark.ops.imagecaption import shard_pairs

    return shard_pairs(
        _derived_pairs(spark, sf_dir),
        target_bytes=4 << 20,
        n_buckets=8,
        # pixel count as the size proxy — the derived pair table carries
        # no binary column (metadata sharding, bytes stay on disk)
        size=F.col("w").cast("long") * F.col("h"),
    )


def q_shard_pairs(spark, sf_dir):
    """WebDataset-style shard assignment: portable-hash bucket +
    running-bytes window → deterministic pre-shuffled, size-bounded
    shards; DuckDB replays the identical hash/order/cumsum integers."""
    return _sharded_pairs(spark, sf_dir).select(
        "image_id", "row_bytes", "bucket", "shard_ix", "shard"
    )


def q_shard_manifest(spark, sf_dir):
    from pholcus_spark.ops.imagecaption import shard_manifest

    return shard_manifest(_sharded_pairs(spark, sf_dir)).select(
        "bucket", "shard_ix", "shard", "n_rows", "total_bytes"
    )


def q_webdataset_roundtrip(spark, sf_dir):
    """WebDataset shard export/ingest gated end-to-end: the derived
    pair table (shard assignment already oracle-replicated by
    q_shard_pairs) gains a deterministic payload (caption prefix as
    bytes), is written as per-shard tar archives, read back through the
    binaryFile + mapInPandas member splitter, and must reproduce every
    (shard, image_id, fmt, payload, caption) row byte-exactly — the
    oracle recomputes the shard id and payload from the raw columns, so
    any tar-framing/member-pairing/ordering defect breaks the hash."""
    import tempfile

    from pholcus_spark.ops.imagecaption import (
        read_webdataset,
        write_webdataset,
    )

    sharded = _sharded_pairs(spark, sf_dir).withColumn(
        "bytes", F.encode(F.substring(F.col("caption"), 1, 48), "utf-8")
    )
    out = tempfile.mkdtemp(prefix="pholcus-wds-gate-")
    write_webdataset(sharded, out)
    return read_webdataset(spark, out).select(
        "shard",
        "image_id",
        "fmt",
        F.decode("bytes", "utf-8").alias("payload"),
        "caption",
    )


def q_paginate_expand(spark, sf_dir):
    """PaginateRule's count→pages→URL expansion (the Aid-loop operator,
    engine.paginate_expand) on a derived item table: counts cycle 0..8
    with every 13th non-numeric (the strconv.Atoi err edge), start=2,
    max_pages=6 clamps — every edge the DuckDB range() oracle replays."""
    from pholcus_spark.engine import paginate_expand
    from pholcus_spark.spiderspec import PaginateRule

    docs = _load(spark, sf_dir, "documents")
    d = F.col("doc_id")
    src = docs.select(
        d.alias("doc_id"),
        F.concat(F.lit("http://ex.test/cat?id="), d.cast("string")).alias(
            "parent_url"
        ),
        F.create_map(
            F.lit("total"),
            F.when(d % 13 == 0, F.lit("x")).otherwise(
                (d % 9).cast("string")
            ),
        ).alias("_data"),
    )
    pr = PaginateRule(
        rule="r", count_field="total", url_template="%s&page=%d",
        target_rule="list", start=2, max_pages=6,
    )
    return paginate_expand(src, pr).select(
        "doc_id",
        F.col("_page").alias("page"),
        F.col("raw_link").alias("url"),
    )


def q_aspect_bucket(spark, sf_dir):
    """SDXL-style aspect-ratio bucket assignment: integer-exact rational
    argmin over the literal bucket list — zero shuffle, zero UDF; the
    DuckDB oracle replays the same integers via cross join + window."""
    from pholcus_spark.ops.imagecaption import aspect_bucket

    return aspect_bucket(_derived_pairs(spark, sf_dir)).select(
        "image_id", "w", "h", "bucket_id", "bucket_w", "bucket_h"
    )


def text_repetition(spark, sf_dir):
    """Gopher-style repetition filters over a derived multi-line view
    (10-word lines; every 4th doc gets its first line planted twice
    more, so duplicate-line and top-bigram signals have real positives
    — the corpus itself is single-line). Gate compares the integer
    counts; the frac columns are convenience doubles for users."""
    from pholcus_spark.ops.text import repetition_stats

    docs = _load(spark, sf_dir, "documents")
    d = F.col("doc_id")
    w = F.split(F.trim("text"), r"\s+")
    n_l = F.floor((F.size(w) + 9) / 10).cast("int")
    base = F.array_join(
        F.transform(
            F.sequence(F.lit(0), n_l - 1),
            lambda i: F.concat_ws(" ", F.slice(w, i * 10 + 1, 10)),
        ),
        "\n",
    )
    line1 = F.concat_ws(" ", F.slice(w, 1, 10))
    ml = F.when(
        d % 4 == 1,
        F.concat(base, F.lit("\n"), line1, F.lit("\n"), line1),
    ).otherwise(base)
    derived = docs.select("doc_id", ml.alias("text"))
    return repetition_stats(derived, n=2).select(
        "doc_id", "n_lines", "dup_lines", "top_ngram_count", "n_ngrams"
    )


def text_exact_substr(spark, sf_dir):
    """ExactSubstr dedup (Lee et al. 2021) over a derived corpus with
    planted duplication — every 3rd doc gets a shared boilerplate
    footer (cross-doc duplicated 8-grams), every 7th repeats its own
    first 10 words (within-doc spans + interval-union overlap) — so the
    window-count and covered-token logic both see real positives at any
    sf. Gate compares the integer counts; ``dup_frac`` is the
    convenience ratio users filter on."""
    from pholcus_spark.ops.text import exact_substring_stats

    docs = _load(spark, sf_dir, "documents")
    d = F.col("doc_id")
    w = F.split(F.trim("text"), r"\s+")
    sentinel = F.lit(
        "common attribution footer all rights reserved by the "
        "example corpus publisher network"
    )
    head10 = F.concat_ws(" ", F.slice(w, 1, 10))
    derived = docs.select(
        "doc_id",
        F.when(d % 3 == 1, F.concat_ws(" ", F.col("text"), sentinel))
        .when(d % 7 == 2, F.concat_ws(" ", F.col("text"), head10))
        .otherwise(F.col("text"))
        .alias("text"),
    )
    # scan-width floor now lives inside exact_substring_stats
    # (session.spread_scan — core-count adaptive, no-op on wide inputs)
    return exact_substring_stats(derived, k=8).select(
        "doc_id", "n_tokens", "dup_windows", "dup_tokens"
    )


def q_curation_pipeline(spark, sf_dir):
    """End-to-end corpus curation as ONE composed plan — the way a user
    chains the ops family: PII scrub → quality gate (composite score +
    min token count) → exact-dup collapse (min doc_id survivor per
    normalized fingerprint) → 64-token overlapping chunks. Every stage
    is the same operator its standalone gate checks; the oracle replays
    the whole chain in one SQL statement, so stage INTERACTIONS (scrub
    output feeding quality, dedup feeding chunking) are pinned too."""
    from pholcus_spark.ops.packing import chunk_documents
    from pholcus_spark.ops.text import norm_text, pii_scrub, quality_score
    from pyspark.sql.window import Window

    clean = pii_scrub(_dirty_docs(spark, sf_dir)).select(
        "doc_id", F.col("text_clean").alias("text")
    )
    q = quality_score(clean).where(
        (F.col("quality") >= 0.5) & (F.col("n_tokens") >= 25)
    ).select("doc_id")
    kept = clean.join(q, "doc_id")
    surv = (
        kept.withColumn("fp", F.md5(norm_text(F.col("text"))))
        .withColumn("_m", F.min("doc_id").over(Window.partitionBy("fp")))
        .where(F.col("doc_id") == F.col("_m"))
        .select("doc_id", "text")
    )
    return chunk_documents(surv, chunk_tokens=64, overlap=16).select(
        "doc_id", "chunk_idx", "n_chunk_tokens",
        F.md5("chunk_text").alias("chunk_md5"),
    )


def q_doc_chunks(spark, sf_dir):
    """Context-window chunking (64-token windows, 16 overlap) — pure
    JVM split/sequence/explode/slice, no Python, no shuffle."""
    from pholcus_spark.ops.packing import chunk_documents

    docs = _load(spark, sf_dir, "documents")
    out = chunk_documents(docs, chunk_tokens=64, overlap=16)
    return out.select(
        "doc_id", "chunk_idx", "n_chunk_tokens",
        F.md5("chunk_text").alias("chunk_md5"),
    )


def q_pack_sequences(spark, sf_dir):
    """Greedy sequence packing into 256-token bins — the sequential
    first-fit fold runs per hash group in applyInPandas; the oracle
    replays it as a recursive CTE, pinning the running (bin, fill)
    state bit-exact, not just the output shape."""
    from pholcus_spark.ops.packing import pack_sequences

    docs = _load(spark, sf_dir, "documents")
    return pack_sequences(docs, budget=256, n_groups=8)


def sim_quantize_int8(spark, sf_dir):
    """Per-vector symmetric int8 quantization of the embedding corpus —
    integer codes compared exactly (floor(x+0.5) rounding has one
    definition in every engine; the codes are serialized to CSV so the
    cross-engine compare is type-neutral)."""
    from pholcus_spark.ops.similarity import quantize_int8

    emb = _load(spark, sf_dir, "embeddings")
    return quantize_int8(emb).select(
        "vec_id", F.array_join("q", ",").alias("q_csv")
    )


def q_kafka_payload(spark, sf_dir):
    """Kafka-sink payload builder (`output_kafka.go:38-79`) over an
    items-shaped frame derived from orders: topic = spider__rule with
    the `^[0-9a-zA-Z_-]+$` skip filter, ItemFields-ordered JSON for the
    declared rule, data-map fallback for the rest, url/parent_url
    provenance appended — the JSON strings compared byte-exact vs the
    oracle's struct_pack serialization."""
    from pholcus_spark.sinks import kafka_items_payload

    orders = _load(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    items = orders.select(
        F.lit("site").alias("spider"),
        F.when(k % 11 == 0, F.lit("bad rule!"))
        .when(k % 3 == 0, F.lit("misc"))
        .otherwise(F.lit("detail"))
        .alias("rule"),
        F.create_map(
            F.lit("status"), F.col("o_orderstatus"),
            F.lit("priority"), F.col("o_orderpriority"),
            F.lit("cust"), F.col("o_custkey").cast("string"),
        ).alias("data"),
        F.concat(F.lit("http://h.test/o/"), k.cast("string")).alias("url"),
        F.lit("http://h.test/root").alias("parent_url"),
    )
    return kafka_items_payload(
        items, field_order={"detail": ("status", "priority", "cust")}
    )


def q_beanstalk_payload(spark, sf_dir):
    """Beanstalkd-sink payload builder (`output_beanstalkd.go:24-49`)
    over an items-shaped frame derived from orders: type =
    FileNameReplace(namespace)__sum0-sum1__FileNameReplace(rule) —
    one rule name carries '"'/'*' so the gate pins the column-level
    FileNameReplace incl. the alternating fullwidth quotes; content =
    Go json.Marshal-of-map JSON (keys UTF-8-byte-sorted, NOT
    ItemFields order), declared-but-absent field present as '',
    capitalized Url/ParentUrl provenance, sorted-data-map fallback for
    undeclared rules."""
    from pholcus_spark.sinks import beanstalk_items_payload

    orders = _load(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    items = orders.select(
        F.lit("site").alias("spider"),
        F.when(k % 11 == 0, F.lit('mi"s*c"2'))
        .when(k % 3 == 0, F.lit("misc"))
        .otherwise(F.lit("detail"))
        .alias("rule"),
        F.create_map(
            F.lit("status"), F.col("o_orderstatus"),
            F.lit("priority"), F.col("o_orderpriority"),
            F.lit("cust"), F.col("o_custkey").cast("string"),
        ).alias("data"),
        F.concat(F.lit("http://h.test/o/"), k.cast("string")).alias("url"),
        F.lit("http://h.test/root").alias("parent_url"),
    )
    return beanstalk_items_payload(
        items, namespace="site", sums=(1, 500),
        field_order={"detail": ("status", "priority", "cust", "note")},
    )


def q_robots_filter(spark, sf_dir):
    """The engine's robots gate (`robots.disallow_filter`, the exact
    primitive every frontier push runs): URLs derived deterministically
    from documents, a 5-host dim covering every rule shape — multiple
    prefixes, empty lists, missing host row, root-disallow, and Allow
    carve-outs resolved by RFC 9309 longest-match-wins (allow on tie) —
    prefix-matched on the parsed path (query string excluded, like Go's
    robots packages match on the path)."""
    from pholcus_spark.robots import disallow_filter
    from pholcus_spark.session import local_frame

    docs = _load(spark, sf_dir, "documents")
    host = F.concat(
        F.lit("h"), (F.col("doc_id") % 5).cast("string"), F.lit(".test")
    )
    url = F.concat(
        F.lit("http://"), host, F.lit("/"), F.col("source"), F.lit("/d"),
        F.col("doc_id").cast("string"), F.lit("?ref=x"),
    )
    df = docs.select(
        F.col("doc_id"), host.alias("host"), url.alias("url")
    )
    # host N holds sources src{N}, src{N+5}, src{N+10}, src{N+15}
    # (source tracks doc_id), so these prefixes exercise the whole
    # precedence ladder on real rows:
    dim = local_frame(
        spark,
        [
            # /src1 disallows src10+src15; /src15 allow carves src15
            # back out (6 > 5); /src15/d1 re-disallows its d1* docs
            # (9 > 6)
            ("h0.test", ["/src1", "/src15/d1", "/src0/d0"], ["/src15"]),
            ("h1.test", [], []),            # empty lists: all pass
            # exact tie (same prefix both lists): allow wins
            ("h2.test", ["/src1"], ["/src1"]),
            # h3.test absent: permissive default
            # root disallow with a /src9 carve-out
            ("h4.test", ["/"], ["/src9"]),
        ],
        "host string, disallow_prefixes array<string>, "
        "allow_prefixes array<string>",
    )
    return disallow_filter(df, dim, "url").select("doc_id", "url")


def q_proxy_assign(spark, sf_dir):
    """Proxy-pool rotation assignment (`proxy.assign_proxy` — the exact
    broadcast join + rank filter the engine runs before a live fetch,
    reference `proxy.go:141-197`): requests synthesized from orders
    over 20 subdomained hosts, a 25-proxy pool dim from nation ranked
    by a deterministic latency within 10 registered-domain pools; each
    request picks its pool's (tick mod n)-th fastest proxy at tick=3.
    Exercises the host_key strip-first-label pool keying; hosts whose
    registered domain has no pool fetch direct (empty proxy)."""
    from pyspark.sql import Window

    from pholcus_spark.proxy import assign_proxy

    orders = _load(spark, sf_dir, "orders")
    reqs = orders.select(
        F.col("o_orderkey").alias("req_id"),
        F.concat(
            F.lit("www.site"), (F.col("o_custkey") % 20).cast("string"),
            F.lit(".test"),
        ).alias("host"),
    )
    nation = _load(spark, sf_dir, "nation")
    pool = nation.select(
        F.concat(
            F.lit("site"), (F.col("n_nationkey") % 10).cast("string"),
            F.lit(".test"),
        ).alias("host_key"),
        F.concat(
            F.lit("http://10.0."),
            (F.col("n_nationkey") % 10).cast("string"), F.lit("."),
            F.col("n_nationkey").cast("string"), F.lit(":8080"),
        ).alias("proxy"),
        ((F.col("n_nationkey") * 37) % 101).cast("double").alias(
            "latency_ms"
        ),
    )
    w = Window.partitionBy("host_key").orderBy(
        F.asc("latency_ms"), F.asc("proxy")
    )
    dim = pool.withColumn("rank", F.row_number().over(w)).withColumn(
        "n_proxies",
        F.count("*").over(Window.partitionBy("host_key")).cast("int"),
    )
    return assign_proxy(reqs, dim, tick=3).select("req_id", "host", "proxy")


def q_sitemap_parse(spark, sf_dir):
    """The sitemap ingestion parse kernel (`sitemap.sitemap_locs`):
    sitemap XML synthesized identically in both engines from documents
    (one urlset per source, entries in doc_id order, an &amp; entity and
    padding whitespace in every loc, plus one <sitemapindex> body) —
    extraction, entity unescape, document-order ordinals, and the
    index flag all compared exactly."""
    from pholcus_spark.session import local_frame
    from pholcus_spark.sitemap import sitemap_locs

    docs = _load(spark, sf_dir, "documents")
    entry = F.concat(
        F.lit("<url><loc> http://h.test/"), F.col("source"), F.lit("/d"),
        F.col("doc_id").cast("string"), F.lit("?a=1&amp;b=2 </loc></url>"),
    )
    sm = docs.groupBy("source").agg(
        F.concat(
            F.lit("<urlset>"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct(F.col("doc_id"), entry.alias("e")))
                    ),
                    lambda s: s["e"],
                ),
                "",
            ),
            F.lit("</urlset>"),
        ).alias("body_s")
    )
    pages = sm.select(
        F.concat(
            F.lit("http://h.test/sm/"), F.col("source"), F.lit(".xml")
        ).alias("url"),
        F.col("body_s").cast("binary").alias("body"),
    )
    idx = local_frame(
        spark,
        [(
            "http://h.test/sitemap_index.xml",
            b"<sitemapindex><sitemap><loc>http://h.test/sm/src0.xml</loc>"
            b"</sitemap><sitemap><loc>http://h.test/sm/src1.xml</loc>"
            b"</sitemap></sitemapindex>",
        )],
        "url string, body binary",
    )
    return sitemap_locs(pages.unionByName(idx)).select(
        "sitemap_url", "loc", "ord", "is_index"
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # NOTE on ordering: the driver's CORRECTNESS gate checks exactly the
    # FIRST 50 entries of this registry.  Round 5's window covered the 21
    # previously-unwindowed gates + 29 others; the 22 entries that fell
    # OUTSIDE that window (no CORRECTNESS_r05 row — 21 green in r4 plus
    # text_url_filter, never driver-checked) rotate to the FRONT this
    # round so every gate has a driver row <= 1 round old.
    return {
        # --- 22 gates without a CORRECTNESS_r05 row (window them first) ---
        "q_stratified_sample": q_stratified_sample,
        "q_train_split": q_train_split,
        "q_dsir_weights": q_dsir_weights,
        "q_pair_filter": q_pair_filter,
        "q_caption_dedup": q_caption_dedup,
        "q_pair_phash_neardup": q_pair_phash_neardup,
        "q_aspect_bucket": q_aspect_bucket,
        "q_paginate_expand": q_paginate_expand,
        "q_shard_pairs": q_shard_pairs,
        "q_shard_manifest": q_shard_manifest,
        "text_repetition": text_repetition,
        "text_exact_substr": text_exact_substr,
        "q_curation_pipeline": q_curation_pipeline,
        "q_doc_chunks": q_doc_chunks,
        "q_pack_sequences": q_pack_sequences,
        "q_json_extract": q_json_extract,
        "q_css_extract": q_css_extract,
        "q_xml_extract": q_xml_extract,
        "q_accumulate_items": q_accumulate_items,
        "q_kafka_payload": q_kafka_payload,
        "q_beanstalk_payload": q_beanstalk_payload,
        "text_url_filter": text_url_filter,
        # --- green in CORRECTNESS_r05.json (driver rows <= 1 round old) ---
        "q_robots_filter": q_robots_filter,
        "q_proxy_assign": q_proxy_assign,
        "q_sitemap_parse": q_sitemap_parse,
        "q_global_rank": q_global_rank,
        "q_top_per_source": q_top_per_source,
        "dedup_exact": dedup_exact,
        "dedup_ngram_jaccard": dedup_ngram_jaccard,
        "dedup_minhash_lsh": dedup_minhash_lsh,
        "dedup_simhash": dedup_simhash,
        "dedup_simhash_pairs": dedup_simhash_pairs,
        "dedup_semantic": dedup_semantic,
        "dedup_lines": dedup_lines,
        "dedup_incremental": dedup_incremental,
        "dedup_components": dedup_components,
        "dedup_embedding": dedup_embedding,
        "dedup_embedding_lsh": dedup_embedding_lsh,
        "sim_cosine_topk": sim_cosine_topk,
        "sim_ann_lsh": sim_ann_lsh,
        "sim_knn_batch": sim_knn_batch,
        "sim_knn_ivf": sim_knn_ivf,
        "sim_quantize_int8": sim_quantize_int8,
        "q1_pricing_summary": q1_pricing_summary,
        "q3_shipping_priority": q3_shipping_priority,
        "q_dedup_anti_join": q_dedup_anti_join,
        "q_wave_select": q_wave_select,
        "q_priority_topk": q_priority_topk,
        "q_metrics_rollup": q_metrics_rollup,
        "q_keyin_fanout": q_keyin_fanout,
        "q_sessionize": q_sessionize,
        "q_asof_join": q_asof_join,
        "q_event_windows": q_event_windows,
        "q_sliding_windows": q_sliding_windows,
        "q_session_windows": q_session_windows,
        "q_cube_rollup": q_cube_rollup,
        "q_pivot": q_pivot,
        "q_url_canonical": q_url_canonical,
        "q_file_output_name": q_file_output_name,
        "q_warc_roundtrip": q_warc_roundtrip,
        "q_webdataset_roundtrip": q_webdataset_roundtrip,
        "text_token_count": text_token_count,
        "text_quality": text_quality,
        "text_gopher": text_gopher,
        "text_lang_id": text_lang_id,
        "text_fingerprint": text_fingerprint,
        "text_clean_html": text_clean_html,
        "text_main_content": text_main_content,
        "text_pii_scrub": text_pii_scrub,
        "text_decontaminate": text_decontaminate,
        "text_bm25": text_bm25,
        "q_hash_sample": q_hash_sample,
    }


# ---------------------------------------------------------------------------
# DuckDB oracles
# ---------------------------------------------------------------------------


def _bucket_sql(num_planes: int = 8) -> str:
    """Sign-LSH bucket expression over `embedding` — same deterministic
    hyperplanes and fold order as similarity.lsh_sign_bucket, so DuckDB
    reproduces the exact buckets."""
    from pholcus_spark.ops.similarity import _hyperplane

    bucket_terms = []
    for p in range(num_planes):
        plane = "[" + ", ".join(repr(v) for v in _hyperplane(EMB_DIM, p)) + "]"
        dot = _SQL_DOT.format(dim=EMB_DIM, a="embedding", b=plane)
        bucket_terms.append(
            f"(CASE WHEN {dot} > 0 THEN CAST({1 << p} AS BIGINT) ELSE 0 END)"
        )
    return " + ".join(bucket_terms)


def _ann_lsh_sql() -> str:
    bucket = _bucket_sql(8)
    dotq = _SQL_DOT.format(dim=EMB_DIM, a="e.embedding", b="q.qvec")
    return f"""
WITH b AS (
  SELECT vec_id, label, embedding, {bucket} AS bucket FROM embeddings
), q AS (
  SELECT embedding AS qvec, bucket AS qbucket FROM b WHERE vec_id = 7
)
SELECT e.vec_id, e.label, e.bucket,
       round({dotq} / ({_SQL_NORM.format(a='e.embedding')} * {_SQL_NORM.format(a='q.qvec')}), 4) AS cosine
FROM b e, q
WHERE e.vec_id <> 7
  AND (e.bucket = q.qbucket OR bit_count(xor(e.bucket, q.qbucket)) = 1)
ORDER BY cosine DESC, e.vec_id ASC
LIMIT 10
"""


def _knn_batch_sql() -> str:
    bucket = _bucket_sql(8)
    dotq = _SQL_DOT.format(dim=EMB_DIM, a="e.embedding", b="p.qvec")
    return f"""
WITH b AS (
  SELECT vec_id, label, embedding, {bucket} AS bucket FROM embeddings
), q AS (
  SELECT vec_id AS qid, embedding AS qvec, bucket AS qbucket
  FROM b WHERE vec_id % 50 = 0
), probes AS (
  SELECT qid, qvec, qbucket AS bucket FROM q
  UNION ALL
  SELECT qid, qvec, xor(qbucket, CAST(1 << CAST(t.p AS INT) AS BIGINT))
  FROM q, range(0, 8) AS t(p)
), scored AS (
  SELECT p.qid, e.vec_id, e.label,
         round({dotq} / ({_SQL_NORM.format(a='e.embedding')} * {_SQL_NORM.format(a='p.qvec')}), 4) AS cosine
  FROM probes p JOIN b e USING (bucket)
  WHERE e.vec_id <> p.qid
)
SELECT qid, vec_id, label, cosine, CAST(rn AS INT) AS rn FROM (
  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, vec_id ASC) AS rn
  FROM scored
) WHERE rn <= 5
ORDER BY qid, rn
"""


def _knn_ivf_sql(n_cells: int = 16, nprobe: int = 4, k: int = 5) -> str:
    """DuckDB rebuild of the IVF index: same md5-sampled centroids,
    same round-6 argmax assignment (ties -> smallest cell), same
    nprobe expansion, same round-4 re-rank."""
    dot_ec = _SQL_DOT.format(dim=EMB_DIM, a="e.embedding", b="c.cvec")
    dot_qc = _SQL_DOT.format(dim=EMB_DIM, a="q.qvec", b="c.cvec")
    dot_eq = _SQL_DOT.format(dim=EMB_DIM, a="e.embedding", b="p.qvec")
    n_e = _SQL_NORM.format(a="e.embedding")
    n_c = _SQL_NORM.format(a="c.cvec")
    n_q = _SQL_NORM.format(a="q.qvec")
    n_p = _SQL_NORM.format(a="p.qvec")
    return f"""
WITH c AS (
  SELECT vec_id AS cell, embedding AS cvec FROM embeddings
  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {n_cells}
), ar AS (
  SELECT e.vec_id, e.label, e.embedding, c.cell,
         row_number() OVER (PARTITION BY e.vec_id
           ORDER BY round({dot_ec} / ({n_e} * {n_c}), 6) DESC, c.cell ASC
         ) AS arn
  FROM embeddings e, c
), inv AS (
  SELECT vec_id, label, embedding, cell FROM ar WHERE arn = 1
), q AS (
  SELECT vec_id AS qid, embedding AS qvec FROM embeddings WHERE vec_id % 50 = 0
), pr AS (
  SELECT q.qid, q.qvec, c.cell,
         row_number() OVER (PARTITION BY q.qid
           ORDER BY round({dot_qc} / ({n_q} * {n_c}), 6) DESC, c.cell ASC
         ) AS prn
  FROM q, c
), p AS (
  SELECT qid, qvec, cell FROM pr WHERE prn <= {nprobe}
), scored AS (
  SELECT p.qid, e.vec_id, e.label,
         round({dot_eq} / ({n_e} * {n_p}), 4) AS cosine
  FROM p JOIN inv e USING (cell)
  WHERE e.vec_id <> p.qid
)
SELECT qid, vec_id, label, cosine, CAST(rn AS INT) AS rn FROM (
  SELECT *, row_number() OVER (
    PARTITION BY qid ORDER BY cosine DESC, vec_id ASC) AS rn
  FROM scored
) WHERE rn <= {k}
ORDER BY qid, rn
"""


# DuckDB twin of _derived_pairs (north-rule pair-table metadata view)
_SQL_CAPTION = (
    "CASE CAST(doc_id % 31 AS INTEGER) "
    "WHEN 3 THEN 'stock photo of a sunset over water' "
    "WHEN 7 THEN 'logo placeholder image' ELSE text END"
)
# DuckDB twin of ops.imagecaption.aspect_bucket's literal bucket list:
# same (i, bw, bh, L/bh) integers, so the rational argmin is bit-exact
def _sql_bucket_values() -> str:
    import math

    from pholcus_spark.ops.imagecaption import DEFAULT_ASPECT_BUCKETS

    L = math.lcm(*[bh for _bw, bh in DEFAULT_ASPECT_BUCKETS])
    return ", ".join(
        f"({i}, {bw}, {bh}, {L // bh})"
        for i, (bw, bh) in enumerate(DEFAULT_ASPECT_BUCKETS)
    )


_SQL_BUCKET_VALUES = _sql_bucket_values()

_SQL_PAIRS = f"""
pairs AS (
  SELECT 'img' || CAST(doc_id AS VARCHAR) AS image_id,
    CAST(16 + ({_H.format(x="text || 'w'")}) % 2048 AS INTEGER) AS w,
    CAST(16 + ({_H.format(x="text || 'h'")}) % 2048 AS INTEGER) AS h,
    CASE CAST(doc_id % 3 AS INTEGER)
      WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg' ELSE 'webp' END AS fmt,
    {_SQL_CAPTION} AS caption,
    (({_H.format(x=_NORM.format(x=_SQL_CAPTION))}) & -16)
      | (doc_id % 16) AS phash
  FROM documents
)
"""


# DuckDB twin of _dirty_docs' deterministic PII injection
_SQL_INJECT = (
    "text || ' reach u' || CAST(doc_id AS VARCHAR) || '@mail' || "
    "CAST(doc_id % 7 AS VARCHAR) || '.example.org via 10.' || "
    "CAST(doc_id % 200 AS VARCHAR) || '.0.' || "
    "CAST(doc_id % 250 AS VARCHAR) || ' or +1 (555) 01' || "
    "lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0')"
)


def _pii_rules():
    from pholcus_spark.ops.text import _PII_RULES

    return _PII_RULES


def _scrub_chain_sql(col: str) -> str:
    """Nested regexp_replace applying the full 3-stage redaction to
    ``col`` — the redacted-text-only form shared by the composed
    curation oracle."""
    (_, e_re, e_rep), (_, i_re, i_rep), (_, p_re, p_rep) = _pii_rules()
    return (
        f"regexp_replace(regexp_replace(regexp_replace({col}, "
        f"'{e_re}', '{e_rep}', 'g'), '{i_re}', '{i_rep}', 'g'), "
        f"'{p_re}', '{p_rep}', 'g')"
    )


def _curation_sql() -> str:
    """The q_curation_pipeline oracle: scrub → quality gate → exact-dup
    survivors → 64/16 chunks, one statement."""
    norm_t = _NORM.format(x="text")
    return f"""
WITH dirty AS (
  SELECT doc_id, CASE WHEN doc_id % 3 = 0 THEN {_SQL_INJECT} ELSE text END AS t
  FROM documents
), cleaned AS (
  SELECT doc_id, {_scrub_chain_sql('t')} AS text FROM dirty
), feats AS (
  SELECT doc_id,
    length(text) AS n_chars,
    length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS n_alpha,
    length(regexp_replace(text, '[^A-Z]', '', 'g')) AS n_upper,
    length(regexp_replace(text, '[^.!?,;:]', '', 'g')) AS n_punct,
    len(string_split_regex(trim(text), '\\s+')) AS n_tokens
  FROM cleaned
), scored AS (
  SELECT doc_id, n_tokens,
    round(
      (CASE WHEN n_chars >= 200 THEN 1.0 ELSE n_chars / 200.0 END)
      * round(n_alpha / greatest(n_chars, 1), 4)
      * (1.0 - least(round(n_punct / greatest(n_chars, 1), 4) * 5.0, 1.0))
      * (1.0 - least(round(n_upper / greatest(n_alpha, 1), 4) * 2.0, 1.0)),
      4) AS quality
  FROM feats
), kept AS (
  SELECT c.doc_id, c.text FROM cleaned c JOIN scored s USING (doc_id)
  WHERE s.quality >= 0.5 AND s.n_tokens >= 25
), ranked AS (
  SELECT doc_id, text,
    min(doc_id) OVER (PARTITION BY md5({norm_t})) AS m
  FROM kept
), surv AS (
  SELECT doc_id, text FROM ranked WHERE doc_id = m
), tkn AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w FROM surv
), ch AS (
  SELECT doc_id, w,
    unnest(range(0, 1 + (greatest(len(w) - 64, 0) + 47) // 48)) AS chunk_idx
  FROM tkn
)
SELECT doc_id, CAST(chunk_idx AS INTEGER) AS chunk_idx,
  len(list_slice(w, chunk_idx * 48 + 1, chunk_idx * 48 + 64)) AS n_chunk_tokens,
  md5(array_to_string(list_slice(w, chunk_idx * 48 + 1, chunk_idx * 48 + 64), ' ')) AS chunk_md5
FROM ch
"""


def _pii_scrub_sql() -> str:
    """DuckDB twin of the text_pii_scrub gate: identical injected spans
    and the SAME regex strings (imported from ops.text, written in the
    Java∩RE2 shared dialect), applied as the same 3-stage redaction
    chain with per-stage counts."""
    (_, e_re, e_rep), (_, i_re, i_rep), (_, p_re, p_rep) = _pii_rules()
    return f"""
WITH dirty AS (
  SELECT doc_id, CASE WHEN doc_id % 3 = 0 THEN {_SQL_INJECT} ELSE text END AS t
  FROM documents
), s1 AS (
  SELECT doc_id,
    CAST(len(regexp_extract_all(t, '{e_re}')) AS BIGINT) AS n_email,
    regexp_replace(t, '{e_re}', '{e_rep}', 'g') AS t2
  FROM dirty
), s2 AS (
  SELECT doc_id, n_email,
    CAST(len(regexp_extract_all(t2, '{i_re}')) AS BIGINT) AS n_ipv4,
    regexp_replace(t2, '{i_re}', '{i_rep}', 'g') AS t3
  FROM s1
), s3 AS (
  SELECT doc_id, n_email, n_ipv4,
    CAST(len(regexp_extract_all(t3, '{p_re}')) AS BIGINT) AS n_phone,
    regexp_replace(t3, '{p_re}', '{p_rep}', 'g') AS t4
  FROM s2
)
SELECT doc_id, n_email, n_ipv4, n_phone, md5(t4) AS clean_md5 FROM s3
"""


def oracle_sql() -> dict[str, str]:
    # universal MinHash family — the IDENTICAL literals the Spark op
    # uses (one md5 per shingle, exact int64 fma per permutation)
    from pholcus_spark.ops.dedup import MINHASH_P, minhash_coeffs

    a_co, b_co = minhash_coeffs(16)
    mh_cte = f"""mh AS (
  SELECT doc_id, j,
    min((
      (CAST([{",".join(map(str, a_co))}] AS BIGINT[]))[CAST(j + 1 AS INT)]
        * (x % 1073741824)
      + (CAST([{",".join(map(str, b_co))}] AS BIGINT[]))[CAST(j + 1 AS INT)]
        * (x >> 30)
      + j
    ) % {MINHASH_P}) AS minhash
  FROM (SELECT doc_id, {_H.format(x="shingle")} AS x FROM sh),
       range(0, 16) r(j)
  GROUP BY doc_id, j
)"""
    h_tok = _H.format(x="tok")
    norm = _NORM.format(x="text")
    dot_ab = _SQL_DOT.format(dim=EMB_DIM, a="a.embedding", b="b.embedding")
    dot_eq = _SQL_DOT.format(dim=EMB_DIM, a="e.embedding", b="q.qvec")
    return {
        "q1_pricing_summary": f"""
SELECT l_returnflag, l_linestatus,
  {_sql_dec_sum(_sql_dec('l_quantity'), 'sum_qty')},
  {_sql_dec_sum(_sql_dec('l_extendedprice'), 'sum_base_price')},
  {_sql_dec_sum(f"{_sql_dec('l_extendedprice')} * (1 - {_sql_dec('l_discount')})", 'sum_disc_price')},
  {_sql_dec_sum(f"{_sql_dec('l_extendedprice')} * (1 - {_sql_dec('l_discount')}) * (1 + {_sql_dec('l_tax')})", 'sum_charge')},
  count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
""",
        "q3_shipping_priority": f"""
SELECT l_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
  {_sql_dec_sum(f"{_sql_dec('l_extendedprice')} * (1 - {_sql_dec('l_discount')})", 'revenue')}
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
  AND l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
GROUP BY l_orderkey, orderdate
ORDER BY revenue DESC, l_orderkey ASC
LIMIT 10
""",
        "q_dedup_anti_join": """
SELECT DISTINCT l_orderkey AS candidate_key FROM lineitem
WHERE l_orderkey NOT IN (
  SELECT o_orderkey FROM orders WHERE o_orderstatus = 'F'
)
""",
        "q_wave_select": """
SELECT user_id, event_id, CAST(rn AS INT) AS rn FROM (
  SELECT user_id, event_id,
         row_number() OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS rn
  FROM events
) WHERE rn <= 3
""",
        "q_priority_topk": """
SELECT o_orderpriority, o_orderkey, o_totalprice, CAST(rn AS INT) AS rn FROM (
  SELECT o_orderpriority, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_orderpriority
                            ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
  FROM orders
) WHERE rn <= 5
""",
        "q_metrics_rollup": f"""
SELECT event_type,
  count(*) AS n_events,
  count(DISTINCT user_id) AS n_users,
  {_sql_dec_sum('CAST(value AS DECIMAL(28,8))', 'sum_value')},
  round(min(value), 4) AS min_value,
  round(max(value), 4) AS max_value
FROM events GROUP BY event_type
""",
        "q_keyin_fanout": """
SELECT token, count(*) AS n FROM (
  SELECT unnest(string_split(p_type, ' ')) AS token FROM part
) GROUP BY token
""",
        "q_sessionize": """
WITH g AS (
  SELECT user_id,
    CASE WHEN lag(ts) OVER w IS NULL
           OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
         THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
)
SELECT user_id, CAST(sum(new_session) AS BIGINT) AS n_sessions, count(*) AS n_events
FROM g GROUP BY user_id
""",
        "q_asof_join": """
WITH v AS (
  SELECT user_id, ts,
         max(event_id) AS view_id,
         max_by(value, event_id) AS view_value
  FROM events WHERE event_type = 'view'
  GROUP BY user_id, ts
), p AS (
  SELECT event_id AS purchase_id, user_id, ts AS purchase_ts,
         value AS purchase_value
  FROM events WHERE event_type = 'purchase'
)
SELECT p.purchase_id, p.user_id, p.purchase_ts, p.purchase_value,
       v.view_id, v.view_value, v.ts AS view_ts
FROM p ASOF LEFT JOIN v
  ON p.user_id = v.user_id AND p.purchase_ts >= v.ts
""",
        "q_url_canonical": """
SELECT doc_id,
  CASE CAST(doc_id % 3 AS INT)
    WHEN 0 THEN 'http://host' || (doc_id % 7) || '.example.com/p/' || doc_id || '?a=1&b=2'
    WHEN 1 THEN 'http://host' || (doc_id % 7) || '.example.com:8080/?z=1'
    ELSE 'https://host' || (doc_id % 7) || '.example.com/x%20y/'
  END AS canon_url,
  'host' || (doc_id % 7) || '.example.com' AS host
FROM documents
""",
        "q_file_output_name": """
SELECT doc_id,
  CASE CAST(doc_id % 5 AS INT)
    WHEN 0 THEN 'http://h.test/img/logo_' || doc_id || '.png'
    WHEN 1 THEN 'http://h.test/f/arch_' || doc_id || '.tar.gz'
    WHEN 2 THEN 'http://h.test/p/page_' || doc_id
    WHEN 3 THEN 'http://h.test/dl/blob_' || doc_id || '.bin?sid=' || doc_id
    ELSE 'http://h.test/dir_' || doc_id || '/'
  END AS url,
  CASE CAST(doc_id % 5 AS INT)
    WHEN 0 THEN 'logo_' || doc_id || '.png'
    WHEN 1 THEN 'arch_' || doc_id || '.tar.gz'
    WHEN 2 THEN 'page_' || doc_id || '.html'
    WHEN 3 THEN 'blob_' || doc_id || '.bin'
    ELSE '.html'
  END AS name_default,
  CASE CAST(doc_id % 5 AS INT)
    WHEN 0 THEN 'baidu.png'
    WHEN 1 THEN 'baidu.gz'
    WHEN 2 THEN 'baidu.html'
    WHEN 3 THEN 'baidu.bin'
    ELSE 'baidu.html'
  END AS name_stem,
  CASE CAST(doc_id % 5 AS INT)
    WHEN 0 THEN 'logo_' || doc_id || '.webp'
    WHEN 1 THEN 'arch_' || doc_id || '.tar.webp'
    WHEN 2 THEN 'page_' || doc_id || '.webp'
    WHEN 3 THEN 'blob_' || doc_id || '.webp'
    ELSE '.webp'
  END AS name_ext,
  CASE CAST(doc_id % 5 AS INT)
    WHEN 0 THEN 'sub/dir/cover.png'
    WHEN 1 THEN 'sub/dir/cover.gz'
    WHEN 2 THEN 'sub/dir/cover.html'
    WHEN 3 THEN 'sub/dir/cover.bin'
    ELSE 'sub/dir/cover.html'
  END AS name_dir
FROM documents
""",
        "q_cube_rollup": """
SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
       CAST(CASE WHEN GROUPING(event_type) = 1 THEN 2 ELSE 0 END
            + CASE WHEN GROUPING(strftime(ts, '%Y-%m-%d')) = 1 THEN 1 ELSE 0 END
            AS BIGINT) AS gid,
       count(*) AS n_events,
       round(sum(value), 6) AS sum_value
FROM events
GROUP BY CUBE (event_type, strftime(ts, '%Y-%m-%d'))
""",
        "q_pivot": """
SELECT user_id,
       count(*) FILTER (WHERE event_type = 'click')    AS click,
       count(*) FILTER (WHERE event_type = 'error')    AS error,
       count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
       count(*) FILTER (WHERE event_type = 'signup')   AS signup,
       count(*) FILTER (WHERE event_type = 'view')     AS view
FROM events GROUP BY user_id
""",
        "q_sliding_windows": """
WITH b AS (
  SELECT make_timestamp(
           ((CAST(floor(epoch(ts) / 43200) AS BIGINT) - t.j) * 43200)
           * 1000000
         ) AS bucket_start,
         event_type, value
  FROM events, range(0, 2) AS t(j)
)
SELECT bucket_start, event_type,
       count(*) AS n_events,
       round(sum(value), 6) AS sum_value
FROM b GROUP BY 1, 2
""",
        "q_session_windows": """
WITH g AS (
  SELECT user_id, ts, event_id,
         CASE WHEN lag(ts) OVER w IS NULL
                OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), s AS (
  SELECT user_id, ts,
         sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS UNBOUNDED PRECEDING) AS sid
  FROM g
)
SELECT user_id,
       min(ts) AS session_start,
       max(ts) + INTERVAL 30 MINUTE AS session_end,
       count(*) AS n_events
FROM s GROUP BY user_id, sid
""",
        "q_event_windows": """
SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS bucket_start, event_type,
       count(*) AS n_events,
       round(sum(value), 6) AS sum_value,
       count(DISTINCT user_id) AS n_users
FROM events
GROUP BY 1, 2
""",
        "text_token_count": """
SELECT doc_id,
  len(string_split_regex(trim(text), '\\s+')) AS n_tokens,
  len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS n_subwords,
  length(text) AS n_chars_measured
FROM documents
""",
        "text_quality": """
WITH f AS (
  SELECT doc_id,
    length(text) AS n_chars,
    length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS n_alpha,
    length(regexp_replace(text, '[^A-Z]', '', 'g')) AS n_upper,
    length(regexp_replace(text, '[^.!?,;:]', '', 'g')) AS n_punct,
    len(string_split_regex(trim(text), '\\s+')) AS n_tokens
  FROM documents
), r AS (
  SELECT doc_id, n_chars, n_tokens,
    round(n_alpha / greatest(n_chars, 1), 4) AS alpha_ratio,
    round(n_upper / greatest(n_alpha, 1), 4) AS upper_ratio,
    round(n_punct / greatest(n_chars, 1), 4) AS punct_ratio,
    round(n_chars / greatest(n_tokens, 1), 4) AS mean_word_len
  FROM f
)
SELECT doc_id, n_chars AS n_chars_measured, n_tokens,
  alpha_ratio, upper_ratio, punct_ratio, mean_word_len,
  round(
    (CASE WHEN n_chars >= 200 THEN 1.0 ELSE n_chars / 200.0 END)
    * alpha_ratio
    * (1.0 - least(punct_ratio * 5.0, 1.0))
    * (1.0 - least(upper_ratio * 2.0, 1.0)), 4) AS quality
FROM r
""",
        "q_warc_roundtrip": """
SELECT doc_id, text FROM documents
""",
        "text_gopher": """
WITH f AS (
  SELECT doc_id,
    string_split_regex(trim(text), '\\s+') AS words,
    string_split(text, chr(10)) AS lines,
    length(text) - length(replace(text, '#', '')) AS n_hash,
    (length(text) - length(replace(text, '...', ''))) / 3 AS n_ell
  FROM documents
), m AS (
  SELECT doc_id,
    len(words) AS n_words,
    greatest(len(words), 1) AS nw,
    greatest(len(lines), 1) AS nl,
    list_sum(list_transform(words, w -> length(w))) AS sum_wlen,
    len(list_filter(lines,
        l -> regexp_matches(trim(l), '^[-*•]'))) AS bullet_lines,
    len(list_filter(lines, l -> regexp_matches(l, '\\.\\.\\.$'))) AS ell_lines,
    len(list_filter(words, w -> regexp_matches(w, '[A-Za-z]'))) AS alpha_words,
    (CASE WHEN list_contains(list_transform(words, w -> lower(w)), 'the') THEN 1 ELSE 0 END
     + CASE WHEN list_contains(list_transform(words, w -> lower(w)), 'be') THEN 1 ELSE 0 END
     + CASE WHEN list_contains(list_transform(words, w -> lower(w)), 'to') THEN 1 ELSE 0 END
     + CASE WHEN list_contains(list_transform(words, w -> lower(w)), 'of') THEN 1 ELSE 0 END
     + CASE WHEN list_contains(list_transform(words, w -> lower(w)), 'and') THEN 1 ELSE 0 END
     + CASE WHEN list_contains(list_transform(words, w -> lower(w)), 'that') THEN 1 ELSE 0 END
     + CASE WHEN list_contains(list_transform(words, w -> lower(w)), 'have') THEN 1 ELSE 0 END
     + CASE WHEN list_contains(list_transform(words, w -> lower(w)), 'with') THEN 1 ELSE 0 END
    ) AS stop_hits,
    n_hash, n_ell
  FROM f
), r AS (
  SELECT doc_id, n_words, stop_hits,
    round(coalesce(sum_wlen, 0) / nw, 4) AS mean_word_len,
    round((n_hash + n_ell) / nw, 4) AS symbol_ratio,
    round(bullet_lines / nl, 4) AS bullet_line_frac,
    round(ell_lines / nl, 4) AS ellipsis_line_frac,
    round(alpha_words / nw, 4) AS alpha_word_frac
  FROM m
)
SELECT doc_id, n_words, mean_word_len, symbol_ratio, bullet_line_frac,
  ellipsis_line_frac, alpha_word_frac, CAST(stop_hits AS INT) AS stop_hits,
  (n_words BETWEEN 50 AND 100000
   AND mean_word_len BETWEEN 3.0 AND 10.0
   AND symbol_ratio <= 0.1
   AND bullet_line_frac < 0.9
   AND ellipsis_line_frac <= 0.3
   AND alpha_word_frac >= 0.8
   AND stop_hits >= 2) AS gopher_pass
FROM r
""",
        "text_lang_id": """
WITH t AS (
  SELECT doc_id, lang, ' ' || lower(text) || ' ' AS s FROM documents
), sc AS (
  SELECT doc_id, lang,
    CAST((length(s) - length(replace(s, ' the ', ''))) / 5 AS BIGINT)
    + CAST((length(s) - length(replace(s, ' and ', ''))) / 5 AS BIGINT)
    + CAST((length(s) - length(replace(s, ' of ', ''))) / 4 AS BIGINT)
    + CAST((length(s) - length(replace(s, ' to ', ''))) / 4 AS BIGINT) AS score_en,
    CAST((length(s) - length(replace(s, ' der ', ''))) / 5 AS BIGINT)
    + CAST((length(s) - length(replace(s, ' und ', ''))) / 5 AS BIGINT)
    + CAST((length(s) - length(replace(s, ' die ', ''))) / 5 AS BIGINT)
    + CAST((length(s) - length(replace(s, ' nicht ', ''))) / 7 AS BIGINT) AS score_de,
    CAST((length(s) - length(replace(s, ' le ', ''))) / 4 AS BIGINT)
    + CAST((length(s) - length(replace(s, ' et ', ''))) / 4 AS BIGINT)
    + CAST((length(s) - length(replace(s, ' les ', ''))) / 5 AS BIGINT)
    + CAST((length(s) - length(replace(s, ' des ', ''))) / 5 AS BIGINT) AS score_fr,
    CAST((length(s) - length(replace(s, ' el ', ''))) / 4 AS BIGINT)
    + CAST((length(s) - length(replace(s, ' de la ', ''))) / 7 AS BIGINT)
    + CAST((length(s) - length(replace(s, ' que ', ''))) / 5 AS BIGINT)
    + CAST((length(s) - length(replace(s, ' los ', ''))) / 5 AS BIGINT) AS score_es
  FROM t
)
SELECT doc_id, lang AS labeled_lang, score_en, score_de, score_fr, score_es,
  CASE
    WHEN score_de = greatest(score_en, score_de, score_fr, score_es)
         AND greatest(score_en, score_de, score_fr, score_es) > 0 THEN 'de'
    WHEN score_en = greatest(score_en, score_de, score_fr, score_es)
         AND greatest(score_en, score_de, score_fr, score_es) > 0 THEN 'en'
    WHEN score_es = greatest(score_en, score_de, score_fr, score_es)
         AND greatest(score_en, score_de, score_fr, score_es) > 0 THEN 'es'
    WHEN score_fr = greatest(score_en, score_de, score_fr, score_es)
         AND greatest(score_en, score_de, score_fr, score_es) > 0 THEN 'fr'
    ELSE 'und'
  END AS pred_lang
FROM sc
""",
        "text_fingerprint": f"""
SELECT doc_id,
  md5({norm}) AS fp_md5,
  {_H.format(x=norm)} AS fp64
FROM documents
""",
        # CleanHtml(depth=5) chain (common.go:18-41); [\S\s]+? spans and
        # case-insensitive style/script match mirror the Spark chain in
        # functions/html_clean.py exactly
        "text_main_content": r"""
SELECT doc_id,
  '<h1>' || string_split(text, ' ')[1] || '</h1><p>' ||
  array_to_string(string_split(text, ' ')[1:5], ' ') ||
  '</p><p>' || lang || '</p>' AS content
FROM documents
""",
        "text_bm25": r"""
WITH per AS (
  SELECT doc_id,
         CAST(len(tk) AS BIGINT) AS dl,
         CAST(len(list_filter(tk, x -> x = 'spark')) AS BIGINT) AS tf0,
         CAST(len(list_filter(tk, x -> x = 'customer')) AS BIGINT) AS tf1,
         CAST(len(list_filter(tk, x -> x = 'window')) AS BIGINT) AS tf2
  FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS tk
        FROM documents)
), st AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(dl) AS BIGINT) AS tot,
         CAST(sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df0,
         CAST(sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df1,
         CAST(sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df2
  FROM per
)
SELECT doc_id, round(raw, 6) AS score FROM (
  SELECT doc_id,
    ((CAST(n - df0 AS DOUBLE) + 0.5) / (CAST(df0 AS DOUBLE) + 0.5))
      * (CAST(tf0 AS DOUBLE) * 2.2)
      / (CAST(tf0 AS DOUBLE) + 0.3
         + 0.9 * CAST(dl * n AS DOUBLE) / CAST(tot AS DOUBLE))
    + ((CAST(n - df1 AS DOUBLE) + 0.5) / (CAST(df1 AS DOUBLE) + 0.5))
      * (CAST(tf1 AS DOUBLE) * 2.2)
      / (CAST(tf1 AS DOUBLE) + 0.3
         + 0.9 * CAST(dl * n AS DOUBLE) / CAST(tot AS DOUBLE))
    + ((CAST(n - df2 AS DOUBLE) + 0.5) / (CAST(df2 AS DOUBLE) + 0.5))
      * (CAST(tf2 AS DOUBLE) * 2.2)
      / (CAST(tf2 AS DOUBLE) + 0.3
         + 0.9 * CAST(dl * n AS DOUBLE) / CAST(tot AS DOUBLE))
    AS raw
  FROM per, st
)
WHERE raw > 0
ORDER BY raw DESC, doc_id ASC
LIMIT 15
""",
        "text_clean_html": r"""
SELECT doc_id, md5(cleaned) AS clean_md5, length(cleaned) AS clean_len
FROM (
  SELECT doc_id,
    regexp_replace(
      regexp_replace(
        regexp_replace(
          regexp_replace(
            '<DIV id="c"><SCRIPT>track();</SCRIPT>' || text
              || '<Style>.x{}</Style><P>tail</P></DIV>',
            '<style[\S\s]+?</style>', '', 'gi'),
          '<script[\S\s]+?</script>', '', 'gi'),
        '<[\S\s]+?>', chr(10), 'g'),
      '\s{2,}', chr(10), 'g') AS cleaned
  FROM documents
)
""",
        "text_pii_scrub": _pii_scrub_sql(),
        # word-8-gram decontamination: same shingle construction as
        # _SQL_SHINGLES but n=8 (slice i..i+7, bound len(w)-7), benchmark
        # = every 97th doc, survivors = docs sharing no shingle with it
        "text_decontaminate": f"""
WITH toks AS (
  SELECT doc_id, string_split({norm}, ' ') AS w FROM documents
),
idx AS (
  SELECT doc_id, w, unnest(range(1, greatest(len(w) - 7, 1) + 1)) AS i FROM toks
),
sh AS (
  SELECT DISTINCT doc_id, array_to_string(list_slice(w, i, i + 7), ' ') AS shingle
  FROM idx
),
bsh AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 97 = 0)
SELECT doc_id, lang, source FROM documents
WHERE doc_id NOT IN (
  SELECT DISTINCT s.doc_id FROM sh s JOIN bsh USING (shingle)
)
""",
        "q_hash_sample": f"""
SELECT doc_id, lang FROM documents
WHERE {_H.format(x="CAST(doc_id AS VARCHAR) || 's1'")} % 1000000 < 250000
""",
        "q_stratified_sample": f"""
SELECT doc_id, lang FROM documents
WHERE {_H.format(x="CAST(doc_id AS VARCHAR)")} % 1000000 <
  CASE lang WHEN 'de' THEN 250000 WHEN 'en' THEN 500000
            WHEN 'zh' THEN 50000 ELSE 100000 END
""",
        "q_train_split": f"""
SELECT CASE WHEN {_H.format(x="CAST(doc_id AS VARCHAR) || 'v1'")} % 1000000 < 100000
            THEN 'holdout' ELSE 'train' END AS split,
  CAST(count(*) AS BIGINT) AS n,
  min(doc_id) AS min_id, max(doc_id) AS max_id
FROM documents GROUP BY 1
""",
        # the DSIR replay: same grams, same hash buckets, same smoothed
        # ratio arithmetic (identical IEEE op tree), same ordered fold
        "q_dsir_weights": f"""
WITH tk AS (
  SELECT doc_id, lang,
         string_split({_NORM.format(x='text')}, ' ') AS t
  FROM documents
),
grams AS (
  SELECT doc_id, lang,
         unnest(t || list_transform(range(1, len(t)),
                                    i -> t[i] || ' ' || t[i+1])) AS gram
  FROM tk
),
gb AS (
  SELECT doc_id, lang,
         ({_H.format(x='gram')}) % 64 AS bucket
  FROM grams WHERE gram <> ''
),
rc AS (SELECT bucket, CAST(count(*) AS BIGINT) AS rc FROM gb GROUP BY 1),
tcnt AS (
  SELECT bucket, CAST(count(*) AS BIGINT) AS tc
  FROM gb WHERE lang = 'en' GROUP BY 1
),
tot AS (
  SELECT (SELECT CAST(sum(rc) AS BIGINT) FROM rc) AS R,
         (SELECT CAST(coalesce(sum(tc), 0) AS BIGINT) FROM tcnt) AS T
),
ratios AS (
  SELECT rc.bucket,
    (CAST(coalesce(tc, 0) + 1 AS DOUBLE) * CAST(R + 64 AS DOUBLE))
      / (CAST(rc + 1 AS DOUBLE) * CAST(T + 64 AS DOUBLE)) AS r
  FROM rc LEFT JOIN tcnt ON rc.bucket = tcnt.bucket CROSS JOIN tot
),
f AS (
  SELECT doc_id, bucket, CAST(count(*) AS BIGINT) AS f
  FROM gb GROUP BY 1, 2
),
contrib AS (
  SELECT doc_id, f.bucket, CAST(f AS DOUBLE) * r AS c
  FROM f JOIN ratios ON f.bucket = ratios.bucket
)
SELECT doc_id,
       round(CAST(list_reduce(list(c ORDER BY bucket),
                              (a, b) -> a + b) AS DOUBLE), 4) AS score
FROM contrib GROUP BY doc_id
ORDER BY score DESC, doc_id ASC LIMIT 50
""",
        "q_pair_filter": f"""
WITH {_SQL_PAIRS},
f AS (
  SELECT image_id, w, h, fmt,
    (greatest(w, h) * 10000) // greatest(least(w, h), 1) AS aspect_q4,
    len(string_split_regex(trim(caption), '\\s+')) AS caption_tokens
  FROM pairs
)
SELECT image_id, w, h, fmt, aspect_q4, caption_tokens FROM f
WHERE w >= 64 AND h >= 64 AND aspect_q4 <= 30000
  AND caption_tokens BETWEEN 2 AND 128
""",
        "q_shard_pairs": f"""
WITH {_SQL_PAIRS},
s AS (
  SELECT image_id,
    CAST(w AS BIGINT) * h AS row_bytes,
    CAST(({_H.format(x="image_id")}) % 8 AS INTEGER) AS bucket,
    ({_H.format(x="image_id")}) AS hsh
  FROM pairs
),
c AS (
  SELECT image_id, row_bytes, bucket,
    CAST(coalesce(sum(row_bytes) OVER (
      PARTITION BY bucket ORDER BY hsh, image_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      // {4 << 20} AS INTEGER) AS shard_ix
  FROM s
)
SELECT image_id, row_bytes, bucket, shard_ix,
  CAST(bucket AS VARCHAR) || '-' || CAST(shard_ix AS VARCHAR) AS shard
FROM c
""",
        "q_shard_manifest": f"""
WITH {_SQL_PAIRS},
s AS (
  SELECT image_id,
    CAST(w AS BIGINT) * h AS row_bytes,
    CAST(({_H.format(x="image_id")}) % 8 AS INTEGER) AS bucket,
    ({_H.format(x="image_id")}) AS hsh
  FROM pairs
),
c AS (
  SELECT row_bytes, bucket,
    CAST(coalesce(sum(row_bytes) OVER (
      PARTITION BY bucket ORDER BY hsh, image_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      // {4 << 20} AS INTEGER) AS shard_ix
  FROM s
)
SELECT bucket, shard_ix,
  CAST(bucket AS VARCHAR) || '-' || CAST(shard_ix AS VARCHAR) AS shard,
  CAST(count(*) AS BIGINT) AS n_rows,
  CAST(sum(row_bytes) AS BIGINT) AS total_bytes
FROM c GROUP BY 1, 2, 3
""",
        "q_webdataset_roundtrip": f"""
WITH {_SQL_PAIRS},
s AS (
  SELECT image_id, fmt, caption,
    CAST(w AS BIGINT) * h AS row_bytes,
    CAST(({_H.format(x="image_id")}) % 8 AS INTEGER) AS bucket,
    ({_H.format(x="image_id")}) AS hsh
  FROM pairs
),
c AS (
  SELECT image_id, fmt, caption, bucket,
    CAST(coalesce(sum(row_bytes) OVER (
      PARTITION BY bucket ORDER BY hsh, image_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      // {4 << 20} AS INTEGER) AS shard_ix
  FROM s
)
SELECT
  CAST(bucket AS VARCHAR) || '-' || CAST(shard_ix AS VARCHAR) AS shard,
  image_id, fmt,
  substring(caption, 1, 48) AS payload,
  caption
FROM c
""",
        "q_paginate_expand": """
WITH src AS (
  SELECT doc_id,
    'http://ex.test/cat?id=' || CAST(doc_id AS VARCHAR) AS base,
    CASE WHEN doc_id % 13 = 0 THEN NULL
         ELSE least(CAST(doc_id % 9 AS INTEGER), 6) END AS lastpg
  FROM documents
)
SELECT doc_id,
  CAST(u.pg AS INTEGER) AS page,
  base || '&page=' || CAST(u.pg AS VARCHAR) AS url
FROM src, unnest(range(2, lastpg + 1)) AS u(pg)
WHERE lastpg >= 2
""",
        "q_aspect_bucket": f"""
WITH {_SQL_PAIRS},
b (i, bw, bh, m) AS (VALUES {_SQL_BUCKET_VALUES}),
d AS (
  SELECT p.image_id, p.w, p.h, b.i, b.bw, b.bh,
    abs(CAST(p.w AS BIGINT) * b.bh - b.bw * CAST(p.h AS BIGINT)) * b.m
      AS dist
  FROM pairs p CROSS JOIN b
),
r AS (
  SELECT *, row_number() OVER (PARTITION BY image_id ORDER BY dist, i)
    AS rn
  FROM d
)
SELECT image_id, w, h, i AS bucket_id, bw AS bucket_w, bh AS bucket_h
FROM r WHERE rn = 1
""",
        "q_caption_dedup": f"""
WITH {_SQL_PAIRS},
r AS (
  SELECT image_id, md5({_NORM.format(x='caption')}) AS caption_fp,
    min(image_id) OVER (
      PARTITION BY md5({_NORM.format(x='caption')})) AS m
  FROM pairs
)
SELECT image_id, caption_fp FROM r WHERE image_id = m
""",
        # 5 pigeonhole bands of 13 bits (max_hamming=4), exact popcount
        # verify — mirrors multimodal.phash_neardup_pairs band math
        "q_pair_phash_neardup": f"""
WITH {_SQL_PAIRS},
banded AS (
  SELECT image_id AS iid, phash, j AS band,
    (phash >> (j * 13)) & 8191 AS bucket
  FROM (SELECT image_id, phash, unnest(range(0, 5)) AS j FROM pairs)
),
cand AS (
  SELECT DISTINCT a.iid AS id_a, b.iid AS id_b,
    a.phash AS ph_a, b.phash AS ph_b
  FROM banded a JOIN banded b USING (band, bucket)
  WHERE a.iid < b.iid
)
SELECT id_a, id_b, CAST(bit_count(xor(ph_a, ph_b)) AS INTEGER) AS hamming
FROM cand WHERE bit_count(xor(ph_a, ph_b)) <= 4
""",
        # 64-token windows, stride 48; tail chunk may be short; every
        # doc emits >= 1 chunk — mirrors ops/packing.chunk_documents
        # ExactSubstr (Lee et al. 2021): sliding md5 window fingerprints
        # replayed arithmetically — same planted footer / self-repeat
        # derivation, same >=2 corpus-occurrence rule, same
        # lead-gap interval union for covered tokens
        "text_exact_substr": r"""
WITH derived AS (
  SELECT doc_id,
    CASE
      WHEN doc_id % 3 = 1 THEN text || ' ' ||
        'common attribution footer all rights reserved by the example corpus publisher network'
      WHEN doc_id % 7 = 2 THEN text || ' ' || h10
      ELSE text END AS text
  FROM (
    SELECT doc_id, text,
      array_to_string(
        list_slice(string_split_regex(trim(text), '\s+'), 1, 10), ' ') AS h10
    FROM documents
  )
),
t AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM derived
),
p AS (
  SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tokens, i,
    md5(array_to_string(list_slice(w, i, i + 7), ' ')) AS h
  FROM (
    SELECT doc_id, w,
      unnest(range(1, greatest(len(w) - 7, 1) + 1)) AS i
    FROM t
  )
),
d AS (SELECT h FROM p GROUP BY h HAVING count(*) >= 2),
dp AS (
  SELECT p.doc_id, p.n_tokens, p.i,
    lead(p.i) OVER (PARTITION BY p.doc_id ORDER BY p.i) AS nx
  FROM p JOIN d USING (h)
),
s AS (
  SELECT doc_id, n_tokens, CAST(count(*) AS BIGINT) AS dup_windows,
    CAST(sum(least(coalesce(nx - i, 8), 8, n_tokens - i + 1)) AS BIGINT)
      AS dup_tokens
  FROM dp GROUP BY 1, 2
)
SELECT b.doc_id, b.n_tokens,
  coalesce(s.dup_windows, 0) AS dup_windows,
  coalesce(s.dup_tokens, 0) AS dup_tokens
FROM (SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tokens FROM t) b
LEFT JOIN s USING (doc_id)
""",
        "text_repetition": r"""
WITH t AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents
),
ml AS (
  SELECT doc_id,
    CASE WHEN doc_id % 4 = 1
         THEN base || chr(10) || l1 || chr(10) || l1 ELSE base END AS text
  FROM (
    SELECT doc_id,
      array_to_string(list_transform(range(0, (len(w) + 9) // 10),
        i -> array_to_string(list_slice(w, i * 10 + 1, i * 10 + 10), ' ')),
        chr(10)) AS base,
      array_to_string(list_slice(w, 1, 10), ' ') AS l1
    FROM t
  )
),
ls AS (
  SELECT doc_id, len(lines) AS n_lines,
    len(lines) - len(list_distinct(lines)) AS dup_lines, w
  FROM (
    SELECT doc_id, string_split(text, chr(10)) AS lines,
      string_split_regex(trim(text), '\s+') AS w
    FROM ml
  )
),
g AS (
  SELECT doc_id, n_lines, dup_lines,
    array_to_string(list_slice(w, i, i + 1), ' ') AS gm
  FROM (SELECT doc_id, n_lines, dup_lines, w,
          unnest(range(1, greatest(len(w) - 1, 1) + 1)) AS i FROM ls)
),
cnt AS (
  SELECT doc_id, n_lines, dup_lines, gm, count(*) AS c
  FROM g GROUP BY 1, 2, 3, 4
)
SELECT doc_id, n_lines, dup_lines,
  max(c) AS top_ngram_count, CAST(sum(c) AS BIGINT) AS n_ngrams
FROM cnt GROUP BY 1, 2, 3
""",
        "q_curation_pipeline": _curation_sql(),
        "q_doc_chunks": r"""
WITH t AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents
),
c AS (
  SELECT doc_id, w, len(w) AS n,
    unnest(range(0, 1 + (greatest(len(w) - 64, 0) + 47) // 48)) AS chunk_idx
  FROM t
)
SELECT doc_id, CAST(chunk_idx AS INTEGER) AS chunk_idx,
  len(list_slice(w, chunk_idx * 48 + 1, chunk_idx * 48 + 64)) AS n_chunk_tokens,
  md5(array_to_string(list_slice(w, chunk_idx * 48 + 1, chunk_idx * 48 + 64), ' ')) AS chunk_md5
FROM c
""",
        # greedy first-fit packing replayed sequentially: the recursive
        # CTE advances every grp by one row per iteration, carrying the
        # (bin, fill) fold state exactly like the pandas kernel
        "q_pack_sequences": r"""
WITH RECURSIVE base AS (
  SELECT doc_id, CAST(doc_id % 8 AS INTEGER) AS grp,
    len(string_split_regex(trim(text), '\s+')) AS n_tokens,
    row_number() OVER (PARTITION BY doc_id % 8 ORDER BY doc_id) AS rn
  FROM documents
),
p AS (
  SELECT doc_id, grp, n_tokens, rn, 0 AS bin, n_tokens AS fill
  FROM base WHERE rn = 1
  UNION ALL
  SELECT b.doc_id, b.grp, b.n_tokens, b.rn,
    CASE WHEN p.fill + b.n_tokens <= 256 THEN p.bin ELSE p.bin + 1 END,
    CASE WHEN p.fill + b.n_tokens <= 256 THEN p.fill + b.n_tokens
         ELSE b.n_tokens END
  FROM p JOIN base b ON b.grp = p.grp AND b.rn = p.rn + 1
)
SELECT doc_id, grp, n_tokens, CAST(bin AS INTEGER) AS bin, fill FROM p
""",
        "q_json_extract": r"""
SELECT event_type,
  CAST(sum(CAST(json_extract(props, '$.k') AS INTEGER)) AS BIGINT) AS sum_k,
  CAST(count(CASE WHEN CAST(json_extract(props, '$.k') AS INTEGER) > 50
             THEN 1 END) AS BIGINT) AS n_high,
  round(CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE), 4) AS sum_value
FROM events
GROUP BY event_type
""",
        "q_css_extract": r"""
SELECT doc_id,
  array_to_string(list_slice(string_split(text, ' '), 1, 5), ' ') AS head,
  array_to_string(
    list_slice(string_split(text, ' '), 6, len(string_split(text, ' '))),
    ' ') AS tail,
  CAST(n_chars AS VARCHAR) AS nc,
  coalesce(
    CASE WHEN len(string_split(text, ' ')) >= 3
         THEN string_split(text, ' ')[3] END, '') AS w3,
  coalesce(
    string_split(text, ' ')[least(5, len(string_split(text, ' ')))],
    '') AS wlast,
  coalesce(
    CASE WHEN len(string_split(text, ' ')) >= 2
         THEN string_split(text, ' ')[2] END, '') AS w2c,
  array_to_string(
    list_transform(list_slice(string_split(text, ' '), 1, 5),
                   w -> '<b>' || w || '</b>'),
    ' ') AS hhtml,
  array_to_string(list_slice(string_split(text, ' '), 1, 5), '|') AS bjoin,
  coalesce(
    CASE WHEN len(string_split(text, ' ')) >= 2
         THEN string_split(text, ' ')[2] END, '') || ';' AS sj
FROM documents
""",
        "q_accumulate_items": r"""
WITH m AS (
  SELECT l_orderkey AS k,
         string_agg(l_returnflag || '@' || CAST(l_shipdate AS VARCHAR),
                    ',' ORDER BY l_linenumber,
                    l_returnflag || '@' || CAST(l_shipdate AS VARCHAR))
           AS merged
  FROM lineitem GROUP BY l_orderkey
)
SELECT '结果' AS rule,
       CAST(o_orderkey AS VARCHAR) AS item_id,
       o_orderpriority AS title,
       coalesce(m.merged, '') AS comments,
       'http://t/o/' || o_orderkey AS url
FROM orders LEFT JOIN m ON m.k = o_orderkey
""",
        "q_xml_extract": r"""
SELECT doc_id,
  string_split(text, ' ')[1] AS title,
  lang || '-t' AS langd,
  CAST(n_chars AS VARCHAR) AS nc,
  CASE WHEN doc_id % 2 = 0 THEN source ELSE '' END AS author
FROM documents
""",
        "q_kafka_payload": r"""
WITH base AS (
  SELECT o_orderkey, o_orderstatus, o_orderpriority, o_custkey,
    CASE WHEN o_orderkey % 11 = 0 THEN 'bad rule!'
         WHEN o_orderkey % 3 = 0 THEN 'misc'
         ELSE 'detail' END AS rule
  FROM orders
)
SELECT 'site__' || rule AS topic,
  CAST(to_json(struct_pack(
    status := o_orderstatus,
    priority := o_orderpriority,
    cust := CAST(o_custkey AS VARCHAR),
    url := 'http://h.test/o/' || CAST(o_orderkey AS VARCHAR),
    parent_url := 'http://h.test/root'
  )) AS VARCHAR) AS value
FROM base
WHERE rule <> 'bad rule!'
""",
        "q_beanstalk_payload": r"""
WITH base AS (
  SELECT o_orderkey, o_orderstatus, o_orderpriority, o_custkey,
    CASE WHEN o_orderkey % 11 = 0 THEN 'quoted'
         WHEN o_orderkey % 3 = 0 THEN 'misc'
         ELSE 'detail' END AS rule
  FROM orders
)
SELECT
  'site__1-500__' ||
    CASE rule WHEN 'quoted' THEN 'mi“s×c”2' ELSE rule END AS type,
  CASE WHEN rule = 'detail' THEN CAST(to_json(struct_pack(
      "ParentUrl" := 'http://h.test/root',
      "Url" := 'http://h.test/o/' || CAST(o_orderkey AS VARCHAR),
      cust := CAST(o_custkey AS VARCHAR),
      note := '',
      priority := o_orderpriority,
      status := o_orderstatus
    )) AS VARCHAR)
  ELSE CAST(to_json(struct_pack(
      "ParentUrl" := 'http://h.test/root',
      "Url" := 'http://h.test/o/' || CAST(o_orderkey AS VARCHAR),
      cust := CAST(o_custkey AS VARCHAR),
      priority := o_orderpriority,
      status := o_orderstatus
    )) AS VARCHAR) END AS content
FROM base
""",
        "q_robots_filter": r"""
WITH d AS (
  SELECT doc_id,
    'h' || CAST(doc_id % 5 AS VARCHAR) || '.test' AS host,
    'http://h' || CAST(doc_id % 5 AS VARCHAR) || '.test/' || source
      || '/d' || CAST(doc_id AS VARCHAR) || '?ref=x' AS url,
    '/' || source || '/d' || CAST(doc_id AS VARCHAR) AS path
  FROM documents
),
dim(host, dis, alw) AS (VALUES
  ('h0.test', ['/src1', '/src15/d1', '/src0/d0'], ['/src15']),
  ('h1.test', CAST([] AS VARCHAR[]), CAST([] AS VARCHAR[])),
  ('h2.test', ['/src1'], ['/src1']),
  ('h4.test', ['/'], ['/src9'])
),
m AS (
  SELECT doc_id, url,
    list_max(list_transform(list_filter(dis, p -> path ^@ p), p -> len(p)))
      AS dmax,
    list_max(list_transform(list_filter(alw, p -> path ^@ p), p -> len(p)))
      AS amax
  FROM d LEFT JOIN dim USING (host)
)
SELECT doc_id, url FROM m
WHERE dmax IS NULL OR (amax IS NOT NULL AND amax >= dmax)
""",
        "q_proxy_assign": r"""
WITH req AS (
  SELECT o_orderkey AS req_id,
    'www.site' || CAST(o_custkey % 20 AS VARCHAR) || '.test' AS host
  FROM orders
),
pool AS (
  SELECT 'site' || CAST(n_nationkey % 10 AS VARCHAR) || '.test' AS host_key,
    'http://10.0.' || CAST(n_nationkey % 10 AS VARCHAR) || '.'
      || CAST(n_nationkey AS VARCHAR) || ':8080' AS proxy,
    CAST((n_nationkey * 37) % 101 AS DOUBLE) AS latency_ms
  FROM nation
),
ranked AS (
  SELECT host_key, proxy,
    ROW_NUMBER() OVER (
      PARTITION BY host_key ORDER BY latency_ms, proxy
    ) AS rnk,
    COUNT(*) OVER (PARTITION BY host_key) AS n
  FROM pool
),
pick AS (SELECT host_key, proxy FROM ranked WHERE rnk = (3 % n) + 1),
keyed AS (
  SELECT req_id, host,
    CASE WHEN len(host) - len(replace(host, '.', '')) > 1
         THEN substr(host, position('.' in host) + 1)
         ELSE host END AS hk
  FROM req
)
SELECT req_id, host, COALESCE(p.proxy, '') AS proxy
FROM keyed LEFT JOIN pick p ON keyed.hk = p.host_key
""",
        "q_sitemap_parse": r"""
WITH e AS (
  SELECT source, doc_id,
    '<url><loc> http://h.test/' || source || '/d'
      || CAST(doc_id AS VARCHAR) || '?a=1&amp;b=2 </loc></url>' AS entry
  FROM documents
),
sm AS (
  SELECT 'http://h.test/sm/' || source || '.xml' AS sitemap_url,
    '<urlset>' || string_agg(entry, '' ORDER BY doc_id) || '</urlset>'
      AS body
  FROM e GROUP BY source
),
allsm AS (
  SELECT sitemap_url, body FROM sm
  UNION ALL
  SELECT 'http://h.test/sitemap_index.xml',
    '<sitemapindex><sitemap><loc>http://h.test/sm/src0.xml</loc></sitemap>'
    || '<sitemap><loc>http://h.test/sm/src1.xml</loc></sitemap>'
    || '</sitemapindex>'
),
l AS (
  SELECT sitemap_url, contains(body, '<sitemapindex') AS is_index,
    regexp_extract_all(body, '<loc>\s*([^<]*[^<\s])\s*</loc>', 1) AS locs
  FROM allsm
)
SELECT sitemap_url,
  replace(replace(replace(replace(replace(replace(unnest(locs),
    '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&apos;', ''''),
    '&#39;', ''''), '&amp;', '&') AS loc,
  CAST(generate_subscripts(locs, 1) - 1 AS BIGINT) AS ord,
  is_index
FROM l
""",
        "q_global_rank": r"""
SELECT l_orderkey, l_linenumber,
  CAST(row_number() OVER (
    ORDER BY l_shipdate, l_orderkey, l_linenumber
  ) AS BIGINT) AS rnk
FROM lineitem
""",
        "q_top_per_source": r"""
SELECT doc_id, source, n_chars, rk FROM (
  SELECT doc_id, source, n_chars,
    CAST(row_number() OVER (
      PARTITION BY source ORDER BY n_chars DESC, doc_id
    ) AS BIGINT) AS rk
  FROM documents
) WHERE rk <= 3
""",
        "dedup_exact": f"""
SELECT fp, min(doc_id) AS canonical_doc_id, count(*) AS dup_count FROM (
  SELECT doc_id, md5({norm}) AS fp FROM documents
) GROUP BY fp HAVING count(*) > 1
""",
        "dedup_ngram_jaccard": f"""
WITH {_SQL_SHINGLES},
sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
c AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
  FROM sh a JOIN sh b USING (shingle)
  WHERE a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, common,
  round(common / (x.sz + y.sz - common), 4) AS jaccard
FROM c JOIN sz x ON x.doc_id = doc_a JOIN sz y ON y.doc_id = doc_b
WHERE round(common / (x.sz + y.sz - common), 4) >= 0.1
""",
        "dedup_minhash_lsh": f"""
WITH {_SQL_SHINGLES},
{mh_cte},
bs AS (
  SELECT doc_id, CAST(floor(j / 4) AS INT) AS band,
    md5(string_agg(CAST(j AS VARCHAR) || ':' || CAST(minhash AS VARCHAR), ',' ORDER BY j)) AS bsig
  FROM mh GROUP BY doc_id, band
)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM bs a JOIN bs b USING (band, bsig)
WHERE a.doc_id < b.doc_id
""",
        # components oracle: the same LSH pair CTE, then a recursive-CTE
        # the FULL SemDeDup algorithm replayed in SQL: int8 quantize,
        # md5-sample init, two unrolled Lloyd iterations (exact int64
        # rational centroids; distances = one IEEE division on identical
        # ints), within-cluster cosine pair join — bit-exact vs Spark
        "dedup_semantic": """
WITH am AS (
  SELECT vec_id, embedding,
    greatest(list_max(list_transform(embedding,
      x -> abs(CAST(x AS DOUBLE)))), 1e-30) AS am
  FROM embeddings
),
qc AS (
  SELECT vec_id,
    list_transform(embedding,
      x -> CAST(floor(CAST(x AS DOUBLE) * (127.0 / am) + 0.5) AS BIGINT)
    ) AS q
  FROM am
),
ex AS (
  SELECT vec_id, generate_subscripts(q, 1) AS pos, unnest(q) AS x FROM qc
),
nrm AS (SELECT vec_id, SUM(x * x) AS norm2 FROM ex GROUP BY vec_id),
seed AS (
  SELECT vec_id,
    ROW_NUMBER() OVER (
      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS cl
  FROM qc
  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 4
),
c0 AS (
  SELECT s.cl, e.pos, e.x AS s, CAST(1 AS BIGINT) AS c
  FROM seed s JOIN ex e USING (vec_id)
),
d1 AS (
  SELECT e.vec_id, c.cl,
    SUM((c.c * e.x - c.s) * (c.c * e.x - c.s)) AS num,
    ANY_VALUE(c.c) AS cc
  FROM ex e JOIN c0 c ON c.pos = e.pos
  GROUP BY e.vec_id, c.cl
),
a1 AS (
  SELECT vec_id, cl AS cluster FROM (
    SELECT vec_id, cl, ROW_NUMBER() OVER (
      PARTITION BY vec_id
      ORDER BY CAST(num AS DOUBLE) / CAST(cc * cc AS DOUBLE), cl) AS rn
    FROM d1) WHERE rn = 1
),
u1 AS (
  SELECT a.cluster AS cl, e.pos, SUM(e.x) AS s, COUNT(*) AS c
  FROM ex e JOIN a1 a USING (vec_id)
  GROUP BY a.cluster, e.pos
),
c1 AS (
  SELECT p.cl, p.pos, COALESCE(u.s, p.s) AS s, COALESCE(u.c, p.c) AS c
  FROM c0 p LEFT JOIN u1 u ON u.cl = p.cl AND u.pos = p.pos
),
d2 AS (
  SELECT e.vec_id, c.cl,
    SUM((c.c * e.x - c.s) * (c.c * e.x - c.s)) AS num,
    ANY_VALUE(c.c) AS cc
  FROM ex e JOIN c1 c ON c.pos = e.pos
  GROUP BY e.vec_id, c.cl
),
a2 AS (
  SELECT vec_id, cl AS cluster FROM (
    SELECT vec_id, cl, ROW_NUMBER() OVER (
      PARTITION BY vec_id
      ORDER BY CAST(num AS DOUBLE) / CAST(cc * cc AS DOUBLE), cl) AS rn
    FROM d2) WHERE rn = 1
),
u2 AS (
  SELECT a.cluster AS cl, e.pos, SUM(e.x) AS s, COUNT(*) AS c
  FROM ex e JOIN a2 a USING (vec_id)
  GROUP BY a.cluster, e.pos
),
c2 AS (
  SELECT p.cl, p.pos, COALESCE(u.s, p.s) AS s, COALESCE(u.c, p.c) AS c
  FROM c1 p LEFT JOIN u2 u ON u.cl = p.cl AND u.pos = p.pos
),
d3 AS (
  SELECT e.vec_id, c.cl,
    SUM((c.c * e.x - c.s) * (c.c * e.x - c.s)) AS num,
    ANY_VALUE(c.c) AS cc
  FROM ex e JOIN c2 c ON c.pos = e.pos
  GROUP BY e.vec_id, c.cl
),
a3 AS (
  SELECT vec_id, cl AS cluster FROM (
    SELECT vec_id, cl, ROW_NUMBER() OVER (
      PARTITION BY vec_id
      ORDER BY CAST(num AS DOUBLE) / CAST(cc * cc AS DOUBLE), cl) AS rn
    FROM d3) WHERE rn = 1
),
dots AS (
  SELECT ea.vec_id AS aid, eb.vec_id AS bid, SUM(ea.x * eb.x) AS dot
  FROM ex ea
  JOIN a3 xa ON xa.vec_id = ea.vec_id
  JOIN a3 xb ON xb.cluster = xa.cluster AND xb.vec_id > xa.vec_id
  JOIN ex eb ON eb.vec_id = xb.vec_id AND eb.pos = ea.pos
  GROUP BY ea.vec_id, eb.vec_id
),
dups AS (
  SELECT d.bid AS vec_id, MIN(d.aid) AS dup_of
  FROM dots d
  JOIN nrm na ON na.vec_id = d.aid
  JOIN nrm nb ON nb.vec_id = d.bid
  WHERE na.norm2 > 0 AND nb.norm2 > 0
    AND CAST(d.dot AS DOUBLE)
        / (sqrt(CAST(na.norm2 AS DOUBLE)) * sqrt(CAST(nb.norm2 AS DOUBLE)))
        >= 0.35
  GROUP BY d.bid
)
SELECT a.vec_id, a.cluster, d.dup_of
FROM a3 a LEFT JOIN dups d USING (vec_id)
""",
        # the store answers membership; the oracle replays it as two
        # plain set operations over the same even/odd batch split (the
        # Spark side runs the persistent SeenStore with a Bloom probe)
        "dedup_incremental": f"""
WITH b1 AS (
  SELECT DISTINCT md5({_NORM.format(x='text')}) AS key
  FROM documents WHERE doc_id % 2 = 0
),
b2 AS (
  SELECT md5({_NORM.format(x='text')}) AS key, min(doc_id) AS doc_id
  FROM documents WHERE doc_id % 2 = 1 GROUP BY 1
)
SELECT doc_id, key FROM b2 WHERE key NOT IN (SELECT key FROM b1)
""",
        # transitive closure with min-reachable as the canonical label
        # (closure is Σ|component|² rows — tractable at gate scale; the
        # Spark side uses iterative min-label propagation instead)
        "dedup_lines": r"""
WITH lined AS (
  SELECT doc_id, regexp_replace(text, ' table ', chr(10), 'g') AS t
  FROM documents
),
lines AS (
  SELECT doc_id,
         generate_subscripts(string_split(t, chr(10)), 1) - 1 AS pos,
         unnest(string_split(t, chr(10))) AS ln
  FROM lined
),
marked AS (
  SELECT doc_id, pos, ln,
         len(regexp_split_to_array(trim(ln), '\s+')) < 2 AS exempt
  FROM lines
),
ranked AS (
  SELECT doc_id, pos, ln, exempt,
         row_number() OVER (
           PARTITION BY trim(ln) ORDER BY doc_id, pos
         ) AS rn
  FROM marked
)
SELECT doc_id,
  coalesce(
    string_agg(CASE WHEN exempt OR rn = 1 THEN ln END, chr(10)
               ORDER BY pos),
    '') AS text_dedup,
  CAST(count(*) AS BIGINT) AS n_lines,
  CAST(count(*) FILTER (WHERE NOT (exempt OR rn = 1)) AS BIGINT)
    AS n_removed
FROM ranked
GROUP BY doc_id
""",
        "dedup_components": f"""
WITH RECURSIVE {_SQL_SHINGLES},
{mh_cte},
bs AS (
  SELECT doc_id, CAST(floor(j / 4) AS INT) AS band,
    md5(string_agg(CAST(j AS VARCHAR) || ':' || CAST(minhash AS VARCHAR), ',' ORDER BY j)) AS bsig
  FROM mh GROUP BY doc_id, band
),
pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bs a JOIN bs b USING (band, bsig)
  WHERE a.doc_id < b.doc_id
),
edges AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION
  SELECT doc_b, doc_a FROM pairs
),
reach(v, u) AS (
  SELECT a, a FROM edges
  UNION
  SELECT r.v, e.b FROM reach r JOIN edges e ON r.u = e.a
)
SELECT v AS doc_id, min(u) AS canonical_doc_id
FROM reach GROUP BY v ORDER BY doc_id
""",
        "dedup_simhash": f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split({norm}, ' ')) AS tok FROM documents
), th AS (
  SELECT doc_id, {h_tok} AS h FROM toks
), pb AS (
  SELECT doc_id, b,
    sum(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS s
  FROM (SELECT doc_id, h, unnest(range(0, 32)) AS b FROM th)
  GROUP BY doc_id, b
)
SELECT doc_id,
  CAST(sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << b) ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS simhash
FROM pb GROUP BY doc_id
""",
        "dedup_simhash_pairs": f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split({norm}, ' ')) AS tok FROM documents
), th AS (
  SELECT doc_id, {h_tok} AS h FROM toks
), pb AS (
  SELECT doc_id, b,
    sum(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS s
  FROM (SELECT doc_id, h, unnest(range(0, 32)) AS b FROM th)
  GROUP BY doc_id, b
), sh AS (
  SELECT doc_id,
    sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << b) ELSE CAST(0 AS BIGINT) END) AS simhash
  FROM pb GROUP BY doc_id
), banded AS (
  SELECT doc_id, simhash, band,
    (simhash >> (band * 8)) & 255 AS bucket
  FROM (SELECT doc_id, simhash, unnest(range(0, 4)) AS band FROM sh)
), cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
    a.simhash AS sh_a, b.simhash AS sh_b
  FROM banded a JOIN banded b USING (band, bucket)
  WHERE a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, bit_count(xor(sh_a, sh_b)) AS hamming
FROM cand WHERE bit_count(xor(sh_a, sh_b)) <= 3
""",
        "dedup_embedding": f"""
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
  round({dot_ab} / ({_SQL_NORM.format(a='a.embedding')} * {_SQL_NORM.format(a='b.embedding')}), 4) AS cosine
FROM embeddings a, embeddings b
WHERE a.vec_id < b.vec_id
  AND round({dot_ab} / ({_SQL_NORM.format(a='a.embedding')} * {_SQL_NORM.format(a='b.embedding')}), 4) >= 0.35
""",
        "dedup_embedding_lsh": f"""
WITH b AS (
  SELECT vec_id, embedding, {_bucket_sql(8)} AS bucket FROM embeddings
), pr AS (
  SELECT vec_id AS id_a, embedding AS va,
    CASE WHEN j = 8 THEN bucket
         ELSE xor(bucket, (CAST(1 AS BIGINT) << j)) END AS probe
  FROM (SELECT vec_id, embedding, bucket, unnest(range(0, 9)) AS j FROM b)
), cand AS (
  SELECT pr.id_a, o.vec_id AS id_b, pr.va, o.embedding AS vb
  FROM pr JOIN b o ON pr.probe = o.bucket
  WHERE pr.id_a < o.vec_id
)
SELECT id_a, id_b,
  round({_SQL_DOT.format(dim=EMB_DIM, a='va', b='vb')} / ({_SQL_NORM.format(a='va')} * {_SQL_NORM.format(a='vb')}), 4) AS cosine
FROM cand
WHERE round({_SQL_DOT.format(dim=EMB_DIM, a='va', b='vb')} / ({_SQL_NORM.format(a='va')} * {_SQL_NORM.format(a='vb')}), 4) >= 0.35
""",
        "sim_cosine_topk": f"""
WITH q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 7)
SELECT e.vec_id, e.label,
  round({dot_eq} / ({_SQL_NORM.format(a='e.embedding')} * {_SQL_NORM.format(a='q.qvec')}), 4) AS cosine
FROM embeddings e, q
WHERE e.vec_id <> 7
ORDER BY cosine DESC, e.vec_id ASC
LIMIT 10
""",
        "sim_ann_lsh": _ann_lsh_sql(),
        "sim_knn_batch": _knn_batch_sql(),
        "sim_knn_ivf": _knn_ivf_sql(),
        "sim_quantize_int8": """
WITH a AS (
  SELECT vec_id, embedding,
    greatest(list_max(list_transform(embedding,
      x -> abs(CAST(x AS DOUBLE)))), 1e-30) AS am
  FROM embeddings
)
SELECT vec_id,
  array_to_string(list_transform(embedding,
    x -> CAST(floor(CAST(x AS DOUBLE) * (127.0 / am) + 0.5) AS INTEGER)),
    ',') AS q_csv
FROM a
""",
        "text_url_filter": """
WITH u AS (
  SELECT doc_id,
    'http://' || source ||
    CASE WHEN doc_id % 7 = 0 THEN '.biz' ELSE '.com' END || '/' ||
    repeat('sec/', CAST(doc_id % 5 AS INT)) ||
    CASE WHEN doc_id % 11 = 0
         THEN CAST(doc_id * 1103 AS VARCHAR) || '9988/' ELSE '' END ||
    'doc-' || CAST(doc_id AS VARCHAR) ||
    CASE WHEN doc_id % 3 = 0 THEN '?utm_campaign=x&p=1'
         WHEN doc_id % 5 = 0 THEN '?q=ok' ELSE '' END AS url
  FROM documents
), p AS (
  SELECT doc_id, url, lower(trim(url)) AS lu,
    regexp_replace(
      regexp_extract(lower(trim(url)),
        '^[a-z][a-z0-9+.-]*://([^/?#]*)', 1), ':[0-9]+$', '') AS url_host,
    regexp_extract(lower(trim(url)),
      '^[a-z][a-z0-9+.-]*://[^/?#]*([^?#]*)', 1) AS path,
    regexp_extract(lower(trim(url)), '\\?([^#]*)', 1) AS q
  FROM u
), d AS (
  SELECT *, str_split(url_host, '.') AS labels FROM p
), f AS (
  SELECT doc_id, url, url_host,
    CASE WHEN len(labels) >= 2
         THEN labels[-2] || '.' || labels[-1] ELSE url_host END AS url_domain,
    labels[-1] AS tld,
    len(list_filter(str_split(path, '/'), s -> s <> '')) AS depth,
    round(CAST(length(regexp_replace(path, '[^0-9]', '', 'g')) AS DOUBLE)
          / greatest(length(path), 1), 4) AS digit_frac,
    length(lu) AS ulen, q
  FROM d
)
SELECT doc_id, url, url_host, url_domain,
  url_domain IN ('src2.com', 'src5.com') AS blocked_domain,
  tld NOT IN ('com','org','net','edu','gov','io') AS bad_tld,
  ulen > 512 AS too_long,
  depth > 3 AS deep_path,
  regexp_matches(q,
    '(^|&)(utm_[a-z]+|gclid|fbclid|sessionid|phpsessid|sid)=')
    AS tracking_query,
  digit_frac > 0.4 AS digit_heavy_path,
  NOT (url_domain IN ('src2.com', 'src5.com')
       OR tld NOT IN ('com','org','net','edu','gov','io')
       OR ulen > 512 OR depth > 3
       OR regexp_matches(q,
            '(^|&)(utm_[a-z]+|gclid|fbclid|sessionid|phpsessid|sid)=')
       OR digit_frac > 0.4) AS url_keep
FROM f
""",
    }


# ---------------------------------------------------------------------------
# flagship
# ---------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship on sf0.001: the near-dup pipeline the engine exists for —
    MinHash/LSH candidate generation followed by exact n-gram Jaccard
    verification driven BY the candidate pairs (the shingle join touches
    only candidate pairs — nothing in the plan is O(n²));
    returns verified near-duplicate pairs with their similarity.
    ``max_bucket`` makes the flagship skew-safe by default: a
    boilerplate cluster of K near-identical docs is bounded at
    C(max_bucket, 2) candidate pairs per band bucket instead of K²
    (the sf0.001 corpus has no bucket anywhere near the cap, so the
    output is byte-identical to the uncapped oracle-checked run)."""
    sf_dir = "/root/testdata/sf0.001"
    from pholcus_spark.ops.dedup import minhash_lsh_candidates, ngram_jaccard_pairs

    docs = _load(spark, sf_dir, "documents")
    cand = minhash_lsh_candidates(
        docs, num_hashes=16, bands=4, n=3, max_bucket=256
    )
    return ngram_jaccard_pairs(docs, n=3, threshold=0.0, candidates=cand).select(
        "doc_a", "doc_b", "common", "jaccard"
    )
