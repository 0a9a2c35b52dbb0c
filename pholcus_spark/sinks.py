"""Output sinks — Spark-native replacements for the reference's
pipeline sinks (`app/pipeline/output_*.go`).

The reference's namespacing contract (`output_util.go:8-39`):
namespace = spider name (plus keyin-hash when fanned out, already baked
into our spider name as `name__keyin`), subnamespace = rule name; the
CSV sink writes one file per (namespace, subnamespace) with a header
row (`output_csv.go:17-71`). Here: partitioned parquet/CSV writes with
`partitionBy(spider, rule)` — one directory per namespace pair, which
is the scalable form of the same contract.

Database/queue sinks are thin format dispatches (`df.write.jdbc`,
`.format('kafka')`, `.format('mongodb')`): no servers exist in this
container, so they are config-gated; the dispatch itself mirrors the
reference's sink registry (`output_data.go:14-23`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .session import local_frame

# FileNameReplace (`common/util/util.go:307-338`): Windows-illegal name
# chars → fullwidth/typographic equivalents; '"' alternates “ ” ; the
# USE_KEYIN placeholder ("\r\t\n", util.go:32) is stripped.
_FNR_MAP = {
    ":": "：", "*": "×", "<": "＜", ">": "＞",
    "?": "？", "/": "／", "|": "∣", "\\": "╲",
}


def file_name_replace(name: str) -> str:
    q = 1
    out = []
    for ch in name:
        if ch == '"':
            out.append("“" if q % 2 == 1 else "”")
            q += 1
        else:
            out.append(_FNR_MAP.get(ch, ch))
    return "".join(out).replace("\r\t\n", "")


def _go_path_ext(n: str) -> str:
    """Go ``path.Ext`` on a slash-free element: suffix beginning at the
    final dot, '' when there is none (``path/path.go:142-150``)."""
    i = n.rfind(".")
    return n[i:] if i >= 0 else ""


def file_output_name(url: str, name_or_ext: str = "") -> str:
    """The FileCell name ``ctx.FileOutput(nameOrExt)`` derives
    (`app/spider/context.go:247-284`):

    * take the URL's last path segment, strip any ``?query``;
    * a non-empty ``name_or_ext`` is split Go-``path.Split``-style into
      a dir prefix + final element; the element's extension (if any)
      overrides the URL's, the remaining stem (if any, dir prefix kept)
      overrides the URL-derived base name;
    * missing pieces fall back to the URL (base = segment minus ext,
      ext = segment ext), and a still-empty ext defaults to ``.html``.

    ``FileOutput("baidu")`` on ``…/bd_logo1.png`` → ``baidu.png``;
    ``FileOutput()`` on ``…/pholcus`` → ``pholcus.html``.
    """
    s = url.rsplit("/", 1)[-1]
    n = s.split("?", 1)[0]
    base, ext = "", ""
    if name_or_ext:
        i = name_or_ext.rfind("/")
        p, n2 = name_or_ext[: i + 1], name_or_ext[i + 1 :]
        ext = _go_path_ext(n2)
        stem = n2[: len(n2) - len(ext)] if ext else n2
        if stem:
            base = p + stem
    if not base:
        uext = _go_path_ext(n)
        base = n[: len(n) - len(uext)] if uext else n
    if not ext:
        ext = _go_path_ext(n)
    if not ext:
        ext = ".html"
    return base + ext


def file_output_name_col(url, name_or_ext: str = ""):
    """Column twin of :func:`file_output_name` — pure JVM expressions
    (``name_or_ext`` is a per-rule SPEC CONSTANT, so its Go-path
    splitting happens driver-side; only the URL-derived parts are
    per-row). Used by the engine's files branch so the names land in
    the plan without a UDF."""
    if isinstance(url, str):
        url = F.col(url)
    seg = F.substring_index(F.substring_index(url, "/", -1), "?", 1)
    url_ext = F.regexp_extract(seg, r"(\.[^.]*)$", 1)
    url_base = F.substring(seg, F.lit(1), F.length(seg) - F.length(url_ext))
    arg_base, arg_ext = "", ""
    if name_or_ext:
        i = name_or_ext.rfind("/")
        p, n2 = name_or_ext[: i + 1], name_or_ext[i + 1 :]
        arg_ext = _go_path_ext(n2)
        stem = n2[: len(n2) - len(arg_ext)] if arg_ext else n2
        if stem:
            arg_base = p + stem
    base_col = F.lit(arg_base) if arg_base else url_base
    ext_col = (
        F.lit(arg_ext)
        if arg_ext
        else F.when(url_ext != "", url_ext).otherwise(F.lit(".html"))
    )
    return F.concat(base_col, ext_col)


def file_cell_relpath(namespace: str, name: str) -> str:
    """Disk layout of one FileCell relative to FileDir
    (`output_file.go:26-30`): ``FNR(namespace)/<dir-part>/FNR(base)``
    where ``(dir-part, base) = filepath.Split(filepath.Clean(name))``.
    Go's ``filepath.Join`` treats every element as relative, so an
    absolute-looking name stays under FileDir — mirrored by stripping
    the leading '/'. Pure (no Spark): runs inside the task-side file
    sink writer."""
    import posixpath

    cleaned = posixpath.normpath(name).lstrip("/")
    # normpath preserves leading '..' segments, so a name like
    # '../../x' would escape file_dir — and unlike the reference's
    # single process this writer runs fan-out on every executor against
    # a shared filesystem. Strip the escaping segments (all in-tree
    # names are unaffected, keeping layout parity with filepath.Join).
    while cleaned.startswith("../"):
        cleaned = cleaned[3:]
    if cleaned == "..":
        cleaned = ""
    i = cleaned.rfind("/")
    p, n = cleaned[: i + 1], cleaned[i + 1 :]
    parts = [file_name_replace(namespace)]
    if p:
        parts.append(p.rstrip("/"))
    parts.append(file_name_replace(n))
    return "/".join(parts)


def export_files(files: DataFrame, file_dir: str, namespace_col: str = "spider"):
    """Distributed FileCell disk sink (`output_file.go:20-73`): each
    partition writes its rows under ``file_dir/FNR(namespace)/<dir>/
    FNR(base)``, create-or-truncate like the reference's O_TRUNC open.
    ``file_dir`` must be a shared filesystem on a real cluster (every
    executor writes directly — same contract as the reference's one
    process, scaled out); rows need (``namespace_col``, name, bytes)."""
    import os

    rows = files.select(
        F.col(namespace_col).alias("_ns"), "name", "bytes"
    )

    def _write(part):
        for r in part:
            rel = file_cell_relpath(r["_ns"], r["name"])
            path = os.path.join(file_dir, rel)
            os.makedirs(os.path.dirname(path), exist_ok=True)
            with open(path, "wb") as f:
                f.write(bytes(r["bytes"]))

    rows.foreachPartition(_write)


def sub_namespace_col(sub_field: str | None):
    """The subNamespace column (`output_util.go:18-28`): rule name by
    default; with a :class:`SpiderSpec.sub_namespace_field` set, the
    item-data field's VALUE — the reference's data-dependent table
    naming (baidunews.go:77-79 returns dataCell["分类"]). A missing
    field yields '' exactly like the reference's recovered type-assert
    panic → zero-value string (output_util.go:22-27)."""
    if sub_field is None:
        return F.col("rule")
    return F.coalesce(
        F.try_element_at(F.col("data"), F.lit(sub_field)), F.lit("")
    )


def rule_fields_df(spark, spec) -> DataFrame:
    """The ItemFields dimension: (rule, field, ordinal) — declared
    column order per rule (`spider.go:53-58`), driving sink headers
    exactly like the reference's ordered CSV export
    (`output_csv.go:46-50`)."""
    rows = [
        (rule, field, i)
        for rule, fields in spec.item_fields().items()
        for i, field in enumerate(fields)
    ]
    return local_frame(spark, rows, "rule string, field string, ordinal int")


def export_items_csv(
    items: DataFrame, out_dir: str, field_order=None, sub_field=None,
    dynamic_rules=(), out_default_field: bool = True,
) -> None:
    """CSV export of the items table, one partition dir per
    (spider, rule) — the namespace__subnamespace contract.

    ``field_order`` (rule → ordered field names, e.g.
    ``spec.item_fields()``): the map payload is pivoted to NAMED COLUMNS
    in declared ItemFields order, one header per rule — the reference's
    per-subnamespace CSV shape (`output_csv.go:46-61`). Rules without a
    declared order fall back to a JSON blob column (the reference
    JSON-stringifies unknown values, `output_csv.go:56-60`). The default
    provenance columns Url/ParentUrl ride along (`context.go:236-240`)
    unless ``out_default_field=False`` — the spider's NotDefaultField
    opt-out (`spider.go:34`, spider files' ``<NotDefaultField>``), which
    suppresses the default fields at the datacell so no sink sees them.
    ``superstep`` (engine partition lineage, not a reference field)
    always rides.

    ``sub_field`` (= ``spec.sub_namespace_field``): data-dependent
    sub-namespace (`output_util.go:18-28`, baidunews.go:77-79) — the
    named item-data field's VALUE becomes the partition column ``sub``
    in place of rule (one directory per (namespace, subnamespace) value,
    the reference's one-file-per-join contract at partitioned-parquet
    scale); ordered rules keep their ``rule=`` pivot scope — the header
    set is per rule — with ``sub`` as a further partition level.
    """
    field_order = field_order or {}
    listed = [r for r in field_order if r is not None]
    rest = items.where(~F.col("rule").isin(listed)) if listed else items
    prov_cols = (
        [F.col("url").alias("Url"), F.col("parent_url").alias("ParentUrl")]
        if out_default_field
        else []
    )
    sub_part = ["sub"] if sub_field is not None else []
    sub_cols = (
        [sub_namespace_col(sub_field).alias("sub")] if sub_field is not None
        else []
    )
    for rule, fields in field_order.items():
        sub = items.where(F.col("rule") == rule)
        if rule in (dynamic_rules or ()):
            # UpsertItemField rules (ExtractRule.dynamic_kv): runtime
            # columns appended after the declared ItemFields, SORTED
            # (deterministic -- the reference appends in first-upsert
            # order, which is scheduling-dependent across pages,
            # context.go:246-253). One distinct-keys aggregation over
            # the map keys; the key universe is small by construction
            # (attribute names), never the row count.
            extra = sorted(
                r[0]
                for r in sub.select(
                    F.explode(F.map_keys("data")).alias("k")
                )
                .distinct()
                .collect()
                if r[0] not in fields
            )
            fields = tuple(fields) + tuple(extra)
        cols = [
            F.try_element_at(F.col("data"), F.lit(f)).alias(f) for f in fields
        ]
        (
            sub.select("spider", *sub_cols, *cols, *prov_cols, "superstep")
            .repartition("spider", *sub_part)
            .write.mode("overwrite")
            .partitionBy("spider", *sub_part)
            .option("header", True)
            .csv(f"{out_dir}/rule={rule}")
        )
    rest_part = sub_part or ["rule"]
    (
        rest.select(
            "spider",
            "rule",
            *sub_cols,
            F.to_json("data").alias("data_json"),
            *prov_cols,
            F.col("superstep"),
        )
        .repartition("spider", *rest_part)
        .write.mode("overwrite")
        .partitionBy("spider", *rest_part)
        .option("header", True)
        .csv(f"{out_dir}/unordered" if field_order else out_dir)
    )


def export_images_parquet(images: DataFrame, out_dir: str) -> None:
    """The file sink: image rows persisted as a typed table
    (`output_file.go:20-71` → north-rule image+caption table)."""
    images.write.mode("overwrite").parquet(out_dir)


def export_items_xlsx(
    items: DataFrame,
    path: str,
    field_order=None,
    out_default_field: bool = True,
    sub_field=None,
) -> None:
    """Excel export of the items table — the reference's "excel"
    DataOutput (`output_excel.go:17-77`): one sheet per
    namespace__subnamespace (spider__rule, illegal chars replaced), a
    header row of the rule's declared ItemFields, string values as-is
    and non-strings JSON-stringified (`output_excel.go:55-60`), and the
    Url/ParentUrl/DownloadTime provenance columns when
    ``out_default_field`` (`output_excel.go:44-47,62-66`).

    Driver-scale BY DESIGN, exactly like the reference (which buffers
    the whole batch in ``col.dataBuf`` before writing): rows stream
    through ``toLocalIterator()`` so at most one partition is resident,
    and Excel itself caps sheets at 2^20 rows. The data-plane sink is
    parquet/Iceberg; this is the human-consumption export.

    ``field_order`` maps rule → ordered field names (pass
    ``spec.item_fields()``); rules without a declared order get a
    single JSON ``data`` column, mirroring the CSV sink's fallback.

    ``sub_field`` (= ``spec.sub_namespace_field``): data-dependent
    sheet naming (`output_excel.go:30-38` keys sheets on
    ``FileNameReplace(subNamespace(datacell))``) — one sheet per
    distinct value of the named item-data field instead of per rule,
    spider-prefixed like the default sheets; headers still come from
    the row's rule (the reference builds the header from whichever
    datacell creates the sheet).
    """
    import json

    from .xlsxlite import XlsxWriter

    field_order = field_order or {}
    prov = ("Url", "ParentUrl", "DownloadTime") if out_default_field else ()

    def rows_for(sub_rows, fields):
        for r in sub_rows:
            data = r["data"] or {}
            vals = []
            for f in fields:
                v = data.get(f)
                vals.append(
                    v if isinstance(v, str) or v is None
                    else json.dumps(v, ensure_ascii=False)
                )
            if out_default_field:
                vals += [
                    r["url"],
                    r["parent_url"],
                    str(r["download_time"]),
                ]
            yield vals

    w = XlsxWriter()
    sub_col = sub_namespace_col(sub_field).alias("_sub")
    pairs = [
        (r["spider"], r["rule"], r["_sub"])
        for r in items.select("spider", "rule", sub_col).distinct()
        .orderBy("spider", "rule", "_sub").collect()
    ]
    # the reference keys sheets on subNamespace ALONE
    # (`output_excel.go:30-38`): every rule emitting one sub value
    # appends to the SAME sheet; the header row comes from whichever
    # rule created the sheet, and each data row renders with its OWN
    # rule's ItemFields. Rules are visited in sorted order — the
    # deterministic stand-in for the reference's buffer order.
    sheet_rules: dict = {}
    for spider, rule, subns in pairs:
        sheet_rules.setdefault((spider, subns), []).append(rule)

    def sheet_rows(spider, subns, rules):
        for rule in rules:
            fields = list(field_order.get(rule) or ())
            sub = items.where(
                (F.col("spider") == spider)
                & (F.col("rule") == rule)
                & (sub_namespace_col(sub_field) == subns)
            )
            if fields:
                yield from rows_for(
                    sub.select(
                        "data", "url", "parent_url", "download_time"
                    ).toLocalIterator(),
                    fields,
                )
            else:
                yield from rows_for(
                    sub.select(
                        F.create_map(
                            F.lit("data"), F.to_json("data")
                        ).alias("data"),
                        "url", "parent_url", "download_time",
                    ).toLocalIterator(),
                    ["data"],
                )

    for (spider, subns), rules in sheet_rules.items():
        first_fields = list(field_order.get(rules[0]) or ())
        header = (first_fields or ["data"]) + list(prov)
        w.add_sheet(
            f"{spider}__{file_name_replace(subns)}",
            header,
            sheet_rows(spider, subns, rules),
        )
    w.save(path)


SINKS = {
    "csv": export_items_csv,
    "parquet": export_images_parquet,
    "excel": export_items_xlsx,
}


# Kafka topic-name contract (`output_kafka.go:36,48-51`): the reference
# validates `namespace__subnamespace` against this and SKIPS rows whose
# topic does not match (it logs and continues) — we filter identically.
TOPIC_PATTERN = "^[0-9a-zA-Z_-]+$"


def kafka_items_payload(
    items: DataFrame,
    field_order=None,
    out_default_field: bool = True,
    sub_field=None,
) -> DataFrame:
    """Items table → Kafka-ready ``(topic, value)`` rows — the payload
    half of the reference's kafka sink (`output_kafka.go:38-79`),
    separated from the transport so it is oracle-testable without a
    broker.

    * ``topic`` = ``spider__rule`` (joinNamespaces,
      `output_kafka.go:47`); rows whose topic fails
      :data:`TOPIC_PATTERN` are dropped, mirroring the reference's
      skip-and-continue (`output_kafka.go:48-51`).
    * ``value`` = one JSON object per item. Rules listed in
      ``field_order`` (rule → ordered field names, i.e.
      ``spec.item_fields()``) serialize their data in declared
      ItemFields order (`output_kafka.go:64-71`); other rules fall back
      to the data map as-is. ``out_default_field`` appends the
      url / parent_url / download_time provenance keys
      (`output_kafka.go:73-77`); download_time rides only when the
      items frame carries the column.

    All JVM (`to_json` over struct/map) — no Python in the path; the
    output is a narrow 2-column frame however wide the item data is.

    ``sub_field`` (= ``spec.sub_namespace_field``): topic becomes
    ``spider__<data[sub_field]>`` (`output_kafka.go:46-47` joins the
    data-dependent subNamespace). The reference's FileNameReplace is
    skipped here: every char it would replace also fails
    :data:`TOPIC_PATTERN`, and its fullwidth replacements fail it too,
    so drop behavior is identical either way.
    """
    field_order = field_order or {}
    has_dlt = "download_time" in items.columns
    topic = F.concat_ws(
        "__", F.col("spider"), sub_namespace_col(sub_field)
    ).alias("topic")

    def _prov():
        cols = [
            F.col("url").alias("url"),
            F.col("parent_url").alias("parent_url"),
        ]
        if has_dlt:
            cols.append(F.col("download_time").alias("download_time"))
        return cols

    parts = []
    for rule, fields in field_order.items():
        sub = items.where(F.col("rule") == rule)
        cols = [
            F.try_element_at(F.col("data"), F.lit(f)).alias(f) for f in fields
        ]
        if out_default_field:
            cols += _prov()
        parts.append(sub.select(topic, F.to_json(F.struct(*cols)).alias("value")))

    listed = list(field_order)
    rest = items.where(~F.col("rule").isin(listed)) if listed else items
    payload = F.col("data")
    if out_default_field:
        prov_keys = ["url", "parent_url"] + (
            ["download_time"] if has_dlt else []
        )
        prov_pairs = [F.lit("url"), F.col("url"),
                      F.lit("parent_url"), F.col("parent_url")]
        if has_dlt:
            prov_pairs += [F.lit("download_time"), F.col("download_time")]
        # provenance wins on a name clash (the reference stamps default
        # fields over the data map) — and map_concat THROWS on duplicate
        # keys under the default mapKeyDedupPolicy, so drop clashing
        # item fields first rather than crash the export
        payload = F.map_concat(
            F.map_filter(payload, lambda kk, _v: ~kk.isin(prov_keys)),
            F.create_map(*prov_pairs),
        )
    parts.append(rest.select(topic, F.to_json(payload).alias("value")))

    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.where(F.col("topic").rlike(TOPIC_PATTERN))


def write_jdbc(df: DataFrame, url: str, table: str, **options) -> None:
    """MySQL-sink analog (`output_mysql.go:37-87`). Requires a JDBC
    driver + server — absent in this container (the arg/mode/options
    plumbing is pinned by a monkeypatched-writer test)."""
    df.write.mode("append").options(**options).jdbc(url, table)


def export_items_jdbc(
    items: DataFrame, url: str, field_order=None, sub_field=None,
    out_default_field: bool = True, **options,
) -> None:
    """The MySQL sink (`output_mysql.go:37-87`) over ``df.write.jdbc``:
    one table per ``FNR(namespace)__FNR(subNamespace)`` (namespace =
    spider, subNamespace = rule, or the ``sub_field`` item value —
    `output_util.go:18-28`), columns = the rule's declared ItemFields
    in order, with ``Url``/``ParentUrl``/``DownloadTime`` riding along
    unless the spider's NotDefaultField opt-out (`spider.go:34`) set
    ``out_default_field=False``; every flush is an append
    (``AutoInsert``/``FlushInsert`` batching is the connector's
    batch-insert path). Rules without a declared field order fall back
    to one JSON blob column, like the CSV exporter.

    The table universe is a dim (one row per spider × subNamespace),
    so the driver-side distinct-collect here is control flow, not data
    flow; each table's rows move executor→database in partition-
    parallel JDBC batches. Works against any JDBC database the driver
    jar for which is on the classpath — tested in-container on Spark's
    bundled embedded Derby, server targets take the same ``url`` +
    ``options`` (user/password/driver)."""
    field_order = field_order or {}
    sub = sub_namespace_col(sub_field).alias("_sub")
    tabs = sorted(
        (r.spider, r._sub, r.rule)
        for r in items.select("spider", sub, "rule").distinct().collect()
    )
    prov = (
        [
            F.col("url").alias("Url"),
            F.col("parent_url").alias("ParentUrl"),
            F.col("download_time").alias("DownloadTime"),
        ]
        if out_default_field
        else []
    )
    # With sub_field set, two RULES can land in one TABLE (they share a
    # subNamespace value). Appending each rule separately would write
    # different column sets into the same table — the second append then
    # fails on schema mismatch mid-export, leaving a partial table set.
    # Group by (spider, subNamespace) and union the per-rule projections
    # onto the table's common column set (ordered union of the declared
    # field lists, + data_json when any co-tabled rule lacks one) so
    # each table sees exactly one schema-stable append.
    groups: dict[tuple, list] = {}
    for spider, subns, rule in tabs:
        groups.setdefault((spider, subns), []).append(rule)
    for (spider, subns), rules in sorted(groups.items()):
        table_fields: list[str] = []
        any_fallback = False
        for rule in rules:
            fields = field_order.get(rule)
            if fields:
                table_fields += [f for f in fields if f not in table_fields]
            else:
                any_fallback = True
        parts = []
        for rule in rules:
            fields = field_order.get(rule) or []
            cols = [
                (
                    F.try_element_at(F.col("data"), F.lit(f))
                    if f in fields
                    else F.lit(None).cast("string")
                ).alias(f)
                for f in table_fields
            ]
            if any_fallback:
                cols.append(
                    (
                        F.to_json("data")
                        if not fields
                        else F.lit(None).cast("string")
                    ).alias("data_json")
                )
            part = items.where(
                (F.col("spider") == spider)
                & (F.col("rule") == rule)
                & (sub_namespace_col(sub_field) == subns)
            )
            parts.append(part.select(*cols, *prov))
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        tname = f"{file_name_replace(spider)}__{file_name_replace(subns)}"
        write_jdbc(out, url, tname, **options)


def write_kafka(df: DataFrame, servers: str, topic: str | None = None,
                fmt: str = "kafka", **options) -> None:
    """Kafka-sink transport (`output_kafka.go:38-65`). ``df`` is either
    a prebuilt :func:`kafka_items_payload` frame (per-row ``topic``
    column — the connector routes on it) or any frame, JSON-serialized
    whole with a fixed ``topic``. ``fmt`` is the Spark format to
    dispatch to — tests substitute a broker-less Python data source and
    exercise this exact path end-to-end."""
    if "topic" in df.columns and "value" in df.columns:
        payload = df
    else:
        payload = df.select(F.to_json(F.struct(*df.columns)).alias("value"))
    w = (
        payload.write.format(fmt)
        .mode("append")  # a queue push is an append by definition
        .option("kafka.bootstrap.servers", servers)
        .options(**options)
    )
    if topic is not None:
        w = w.option("topic", topic)
    w.save()


def write_mongo(df: DataFrame, uri: str, database: str, collection: str,
                fmt: str = "mongodb", **options) -> None:
    """Mongo-sink analog (`output_mgo.go:19-70`): rows land 1:1 as
    documents. Needs the mongo-spark connector jar — absent here;
    ``fmt`` lets tests route the identical write through a Python data
    source to pin the dispatch."""
    (
        df.write.format(fmt)
        .option("connection.uri", uri)
        .option("database", database)
        .option("collection", collection)
        .options(**options)
        .mode("append")
        .save()
    )


def accumulate_items(
    items: DataFrame,
    key_field: str,
    scalar_rule: str,
    list_rule: str,
    list_field: str,
    page_field: str,
    out_rule: str | None = None,
    sep: str = ",",
) -> DataFrame:
    """The reference's sequential Temp-append accumulator
    (`taobao.go:234-259`: each comment page appends
    ``discussAll = append(discussAll, page's comments...)`` into the
    carried Temp and only the LAST page Outputs the finished item,
    `taobao.go:292` ``ctx.Output(ctx.CopyTemps())``) — re-expressed
    Spark-first: the engine fans ALL pages out in parallel (PaginateRule)
    and each page emits a PARTIAL row, so the append chain becomes one
    relational aggregation here: segments are collected per key and
    joined **in page order** (``array_sort`` over ``struct(page, seg)``
    — deterministic regardless of fetch order), then merged into the
    scalar row's data map. Sequential-crawl parity: identical final
    items, without serializing a product's pages behind one another.

    ``items`` rows with rule == scalar_rule carry the one-per-key
    partial item (taobao's 商品详情 Temp build); rows with
    rule == list_rule carry ``(key_field, page_field, list_field)``
    segments (商品评论 pages); duplicate page numbers (impossible in a
    real paginated crawl) tie-break deterministically on the segment
    value. Output: the scalar rows with
    ``data[list_field]`` = ordered ``sep``-joined segments ('' when a
    key has no list rows) and rule relabeled ``out_rule`` (the
    reference's final "结果" rule). One groupBy on the key + one
    broadcast-friendly equi-join — no windows, no driver state."""
    segs = (
        items.where(F.col("rule") == list_rule)
        .select(
            F.try_element_at(F.col("data"), F.lit(key_field)).alias("_k"),
            F.try_element_at(F.col("data"), F.lit(page_field))
            .try_cast("int").alias("_pg"),
            F.try_element_at(F.col("data"), F.lit(list_field)).alias("_seg"),
        )
        .where(F.col("_k").isNotNull() & F.col("_pg").isNotNull())
        .groupBy("_k")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("_pg", "_seg"))),
                    lambda s: s["_seg"],
                ),
                sep,
            ).alias("_merged")
        )
    )
    scal = items.where(F.col("rule") == scalar_rule).withColumn(
        "_k", F.try_element_at(F.col("data"), F.lit(key_field))
    )
    return (
        scal.join(segs, "_k", "left")
        .select(
            "spider",
            F.lit(out_rule or scalar_rule).alias("rule"),
            F.map_concat(
                F.map_filter(
                    F.col("data"), lambda k, _v: k != F.lit(list_field)
                ),
                F.create_map(
                    F.lit(list_field), F.coalesce("_merged", F.lit(""))
                ),
            ).alias("data"),
            "url",
            "parent_url",
            *(
                ["download_time"]
                if "download_time" in items.columns
                else []
            ),
            "superstep",
        )
    )


# ---------------------------------------------------------------------------
# Beanstalkd sink (`output_beanstalkd.go:19-55` + `common/beanstalkd/
# beanstalkd.go:50-64`): one queued job per item, job body =
# url.Values{createtime, type, content}.Encode(), put into one tube
# with pri=1/delay=0/ttr=0. Payload building is pure JVM; the wire
# client (`beanstalk.BeanstalkClient`) runs one-per-partition.
# ---------------------------------------------------------------------------


def file_name_replace_col(c):
    """Column twin of :func:`file_name_replace` (util.go:306-345),
    byte-exact including the ALTERNATING fullwidth quotes: odd '"'
    occurrences → '“', even → '”' (split on '"', re-join with
    the parity-chosen quote), then the 1:1 fullwidth map via
    ``translate`` and the USE_KEYIN "\\r\\t\\n" strip. Needed wherever
    the replaced value is data-dependent (the beanstalkd sink's
    subNamespace, `output_beanstalkd.go:28`)."""
    parts = F.split(c, '"', -1)
    quoted = F.concat(
        F.element_at(parts, 1),
        F.array_join(
            F.zip_with(
                F.slice(parts, 2, 2147483646),
                F.sequence(F.lit(1), F.greatest(F.size(parts) - 1, F.lit(1))),
                lambda part, q: F.concat(
                    F.when(q % 2 == 1, F.lit("“")).otherwise(
                        F.lit("”")
                    ),
                    part,
                ),
            ),
            "",
        ),
    )
    return F.regexp_replace(
        F.translate(quoted, ':*<>?/|\\', "：×＜＞？／∣╲"),
        "\r\t\n",
        "",
    )


def go_query_escape(c):
    """Go ``url.QueryEscape`` as a column: java URLEncoder via
    ``url_encode`` (same UTF-8 %XX uppercase hex + space→'+'), with the
    two unreserved-set differences patched — Go escapes '*' (java
    keeps it) and keeps '~' (java emits %7E)."""
    return F.replace(
        F.replace(F.url_encode(c), F.lit("*"), F.lit("%2A")),
        F.lit("%7E"),
        F.lit("~"),
    )


def beanstalk_items_payload(
    items: DataFrame,
    namespace: str | None = None,
    sums: tuple = (0, 0),
    field_order=None,
    out_default_field: bool = True,
    sub_field=None,
) -> DataFrame:
    """Items table → beanstalkd job ``(type, content)`` rows — the
    payload half of `output_beanstalkd.go:24-48`, separated from the
    wire encoding (:func:`beanstalk_job_body`) and transport
    (:func:`write_beanstalkd`) so it is oracle-testable serverless.

    * ``type`` = ``FileNameReplace(namespace)__sum0-sum1`` ``__``
      ``FileNameReplace(subNamespace)`` (`output_beanstalkd.go:24,28,49`);
      ``namespace=None`` derives it per-row from the ``spider`` column
      (the reference Collector is per-spider, so a driver-side constant
      is the common case — pass a string to pin it).
    * ``content`` = one JSON object per item with keys in Go
      ``json.Marshal``-of-map order — SORTED by UTF-8 byte order, NOT
      ItemFields order (`output_beanstalkd.go:30-45` builds a map; Go
      marshals map keys sorted). Rules in ``field_order`` project their
      declared fields, a declared-but-absent field rides as '' with the
      key PRESENT (the zero-string branch, …go:33-35); other rules fall
      back to the sorted data map. ``out_default_field`` appends the
      reference's capitalized ``Url``/``ParentUrl``/``DownloadTime``
      provenance keys (…go:39-43; DownloadTime only when the frame has
      the column). Go's HTML-escaping of <, >, & inside JSON strings is
      not replicated (documented divergence, same as the kafka sink).

    All JVM — no Python in the path."""
    field_order = field_order or {}
    has_dlt = "download_time" in items.columns
    ns = (
        F.lit(file_name_replace(namespace))
        if namespace is not None
        else file_name_replace_col(F.col("spider"))
    )
    type_col = F.concat(
        ns,
        F.lit(f"__{sums[0]}-{sums[1]}__"),
        file_name_replace_col(sub_namespace_col(sub_field)),
    ).alias("type")

    prov = [("ParentUrl", F.col("parent_url")), ("Url", F.col("url"))]
    if has_dlt:
        prov.append(("DownloadTime", F.col("download_time")))

    parts = []
    for rule, fields in field_order.items():
        sub = items.where(F.col("rule") == rule)
        pairs = [
            (
                f,
                F.coalesce(
                    F.try_element_at(F.col("data"), F.lit(f)), F.lit("")
                ),
            )
            for f in fields
        ]
        if out_default_field:
            pairs += prov
        # Go map-marshal order: keys sorted by UTF-8 bytes (= Python
        # code-point sort; UTF-8 preserves code-point order)
        pairs.sort(key=lambda kv: kv[0])
        parts.append(
            sub.select(
                type_col,
                F.to_json(
                    F.struct(*(v.alias(k) for k, v in pairs))
                ).alias("content"),
            )
        )

    listed = list(field_order)
    rest = items.where(~F.col("rule").isin(listed)) if listed else items
    payload = F.col("data")
    if out_default_field:
        prov_keys = [k for k, _v in prov]
        # provenance wins on a name clash; map_concat would throw on a
        # duplicate key under the default mapKeyDedupPolicy
        payload = F.map_concat(
            F.map_filter(payload, lambda kk, _v: ~kk.isin(prov_keys)),
            F.create_map(
                *(x for k, v in prov for x in (F.lit(k), v))
            ),
        )
    # sorted-map serialization: entries sorted by key, map order is
    # preserved by to_json
    payload = F.map_from_entries(F.array_sort(F.map_entries(payload)))
    parts.append(
        rest.select(type_col, F.to_json(payload).alias("content"))
    )

    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def beanstalk_job_body(payload: DataFrame, createtime: str) -> DataFrame:
    """(type, content) → + ``body``: the exact
    ``url.Values{createtime, type, content}.Encode()`` string
    (`output_beanstalkd.go:46-51` + net/url Encode — keys sorted:
    content < createtime < type; Go QueryEscape per value).
    ``createtime`` is the batch-constant unix-seconds string the
    reference stamps once per flush (…go:25) — caller-supplied, so
    runs are deterministic and resumable."""
    return payload.withColumn(
        "body",
        F.concat(
            F.lit("content="),
            go_query_escape(F.col("content")),
            F.lit("&createtime="),
            go_query_escape(F.lit(createtime)),
            F.lit("&type="),
            go_query_escape(F.col("type")),
        ),
    )


def write_beanstalkd(
    df: DataFrame,
    host: str,
    port: int = 11300,
    tube: str = "pholcus",
    pri: int = 1,
    delay: int = 0,
    ttr: int = 0,
) -> None:
    """Transport: push each row's ``body`` as one beanstalkd job —
    one :class:`pholcus_spark.beanstalk.BeanstalkClient` per PARTITION
    (connection amortized across the partition's rows; the reference
    opens one client per output batch, `output_beanstalkd.go:21`).
    Executor-side ``foreachPartition`` — nothing is collected to the
    driver, so a 10^9-item push is as parallel as the frame."""
    bodies = df.select(F.col("body"))

    def _push(rows):
        from pholcus_spark.beanstalk import BeanstalkClient

        it = iter(rows)
        try:
            first = next(it)
        except StopIteration:
            return  # empty partition: don't even connect
        with BeanstalkClient(host, port) as cli:
            cli.use(tube)
            cli.put(first["body"].encode("utf-8"), pri, delay, ttr)
            for row in it:
                cli.put(row["body"].encode("utf-8"), pri, delay, ttr)

    bodies.foreachPartition(_push)
