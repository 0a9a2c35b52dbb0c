"""Declarative spider config — the Spark-side replacement for the
reference's rule tree (``app/spider/spider.go:48-58``).

Instead of arbitrary Go ``ParseFunc`` closures, a spider is declared as
data: URL-pattern → (rule name, priority) routing for emitted links
(this is what reference rules do imperatively at ``ctx.AddQueue``,
``app/spider/context.go:104-125``; priority assignment mirrors
``sample/static_rules/taobao/taobao.go:168,213`` where detail=1 over
list=0). Both the Spark engine and the pure-Python conformance oracle
consume this same config — the config is shared *data*; the two
implementations are independent.
"""

from __future__ import annotations

import dataclasses
import re


@dataclasses.dataclass(frozen=True)
class LinkRule:
    pattern: str  # substring matched against the absolutized URL path
    rule: str
    priority: int
    # HTTP method for requests routed here — GET / POST / HEAD
    # (``surfer/param.go:61-84``; rules like taobao.go POST at AddQueue)
    method: str = "GET"
    post_data: str = ""  # form-urlencoded body for POST


@dataclasses.dataclass(frozen=True)
class FileRule:
    """``ctx.FileOutput(nameOrExt)`` as a declarative rule
    (`app/spider/context.go:244-284`; filetest.go:56-64): fetched
    bodies whose rule matches are collected as FileCells — name
    derived from the URL's last path segment, optionally overridden
    by ``name_or_ext`` (a new stem and/or extension, empty keeps the
    original, extension falls back to ``.html``). The engine lands
    them in the typed ``files`` table (spider, rule, url, name, bytes,
    size); :func:`pholcus_spark.sinks.export_files` writes the
    reference's ``FileDir/FNR(namespace)/…`` disk layout."""

    rule: str
    name_or_ext: str = ""


@dataclasses.dataclass(frozen=True)
class ExtractRule:
    """Declarative per-rule item extraction — the user-authorable
    replacement for the reference's arbitrary ``ParseFunc`` + goquery
    selectors (``spider.go:48-58``; ``context.go:214-242`` Output field
    mapping; goquery ``property.go`` Attr/Text).

    ``kind="regex"`` (default): each regex match of ``item_pattern``
    over the decoded page emits one item; **named capture groups**
    become the item's fields (values are HTML-unescaped).

    ``kind="json"``: the page is a JSON document (API responses — many
    reference rules json.Unmarshal page bodies, e.g. ``taobao.go:127``);
    ``item_pattern`` is the dot-path to the items ARRAY (``""`` = the
    root array, ``"data.items"`` = nested) and each element contributes
    one item whose ``fields`` are pulled by key (non-string values
    JSON-stringified, matching the reference sinks' stringification,
    ``output_csv.go:56-60``).

    ``kind="xml"``: the page is an XML document (the reference's
    ``encoding/xml`` Unmarshal rules — RSS feeds, baidunews.go:53-66);
    ``item_pattern`` is the dot-path from the DOCUMENT ELEMENT (root
    tag excluded, as ``xml.Unmarshal`` binds the top struct to the
    document element regardless of name) to the repeated item element —
    ``"channel.item"`` for RSS. Each field is the item's LAST direct
    child element of that name (encoding/xml scalar
    overwrite-on-repeat) and its value is the element's DIRECT
    character data only (nested elements' text is skipped —
    saveData-at-depth-1). Malformed XML emits nothing
    (baidunews.go:118-120's Unmarshal-err branch). Plain (non-namespace-
    prefixed) element names only.

    ``kind="css"``: goquery-style selector extraction — the form every
    reference sample rule is written in (``query.Find(...)`` then
    ``Attr/Text``, ``common/goquery/traversal.go:23-402``,
    ``property.go``; e.g. ``sample/static_rules/qq_avatar/avatar.go:92-93``).
    ``item_pattern`` is the CONTAINER selector (one match = one item);
    each field's projection comes from ``field_css`` entries
    ``(field, "<sub-selector>@<proj>")`` where the sub-selector is
    evaluated with ``Find`` semantics inside the container (empty =
    the container element itself) and proj is ``text`` (goquery
    ``Text()`` — concatenated descendant text) or an attribute name
    (``Attr("src")``). Fields without a ``field_css`` entry default to
    ``"@text"``. Example, the avatar-gallery rule::

        ExtractRule(rule="list", kind="css",
                    item_pattern="#dv_an span img",
                    fields=("src",), field_css=(("src", "@src"),))

    ``fields`` is the rule's ordered ItemFields schema
    (``spider.go:53-58``) — sinks emit columns in exactly this order
    (``output_csv.go:46-50``), followed by the default provenance
    columns (``context.go:236-240``).

    The parse kernel keeps each rule as it is (``extract.compile_rules``
    adds only the compiled matcher, transforms and carve), so a new
    field is read by name in ``extract._apply_rules_for`` and in the
    oracle twin (``oracle._extract_items``), and nowhere else.
    """

    rule: str  # parse-rule name this extraction applies to
    item_pattern: str  # regex | dot-path (json) | container selector (css)
    fields: tuple[str, ...]  # ordered ItemFields
    kind: str = "regex"  # "regex" | "json" | "css" | "xml"
    # css kind only: (field, "<sub-selector>@<text|attrname>") projections
    field_css: tuple[tuple[str, str], ...] = ()
    # fields whose extracted values are ALSO enqueued as child requests
    # (ctx.AddQueue from rule data — the reference's
    # `ctx.AddQueue(&request.Request{URL: src, ...})` inside the
    # selector loop, avatar.go:95-101); values are absolutized against
    # the page URL and routed through link_rules like any out-link,
    # appended after the page's anchors and figure srcs in push order
    link_fields: tuple[str, ...] = ()
    # fields attached as the TEMP map of this item's link_fields
    # children — the reference's AddQueue Temp carry
    # (shunfenghaitao.go:60 `Temp: {"goodsType": s.Text()}`;
    # zhihu_daily.go:45,58; car_home.go:46): each child request
    # generated from this item's link_fields carries
    # {f: item[f] for f in carry_fields} on its frontier row.
    # An entry may also be a (src, dst) pair — the child's temp key is
    # dst, the emitting item's field is src (the reference renames at
    # AddQueue time: baidunews.go:127-133
    # `Temp: {"releaseTime": CleanHtml(v.PubDate, 4), ...}`)
    carry_fields: tuple[str | tuple[str, str], ...] = ()
    # temp keys merged INTO every item this rule emits — the consumer
    # half (shunfenghaitao.go:75 re-carry + output via
    # `ctx.GetTemp("goodsType")`): for each f the item gets
    # data[f] = request.temp[f] (missing → ""). Declare f in ``fields``
    # for sink column ordering; a temp_fields key overrides any
    # same-named extracted field (the reference authors the Output map
    # explicitly, so the collision cannot arise there). When several
    # ExtractRules share one rule name, declare IDENTICAL temp_fields
    # on all of them — the engine merges per rule name (the fused parse
    # flattens their items), so differing declarations would diverge
    # from the per-ExtractRule oracle
    temp_fields: tuple[str, ...] = ()
    # declarative post-extraction string transforms — the
    # extract-then-munge half of every reference ParseFunc
    # (fang_resell_list.go:74-135 is the canonical shape:
    # strings.Trim/Replace/Split/Fields on each extracted value before
    # Output). ``(field, ((op, *args), ...))`` entries; per field the
    # ops run in order over the extracted string:
    #
    #   ("trim",)                 strings.TrimSpace
    #   ("trim", chars)           strings.Trim(v, chars)
    #   ("replace", old, new)     strings.Replace(v, old, new, -1)
    #   ("replace", old, new, n)  strings.Replace(v, old, new, n)
    #   ("split_pick", sep, i[, expect_n[, on_mismatch]])
    #       strings.Split(v, sep) then part i (negative = from end).
    #       expect_n (default None) demands exactly that many parts —
    #       the reference's `if len(sp) == 2` guards; None accepts any
    #       count that covers i. On mismatch the value is kept
    #       unchanged ("keep", default) or blanked ("empty") — the two
    #       branches Go rules actually write (address keeps the whole
    #       string, business stays "").
    #   ("fields_pick", i[, expect_n[, on_mismatch]])
    #       strings.Fields(v) (any-whitespace split, empties dropped)
    #       then part i — same guard semantics as split_pick.
    #   ("regex_sub", pattern, repl[, n])  re.sub, n=0 → all
    #   ("regex_find", pattern[, group])
    #       first match of pattern (re.search, DOTALL), projecting
    #       capture group ``group`` (default 0 = whole match); no
    #       match → "" — Go's re.FindString / FindStringSubmatch[g]
    #       idiom (jdsearch.go:72-74 `[\d]+$` over the pager text,
    #       IJGUC.go:110 "Title:(.*?)Author:")
    #   ("default", s)            if the value is "" set it to s —
    #       the reference's miss fallback (chinanews.go:115
    #       `else { from = "未知" }`)
    #   ("prefix", s) / ("suffix", s)
    #       prepend/append a constant — the `url = "http:" + url` /
    #       site-root join idiom (jdSpider.go:133, car_home.go:81)
    #   ("int_add", n)            str(Atoi(v) + n): parse the value as
    #       a decimal int with Go strconv.Atoi error semantics (any
    #       parse failure → 0, the reference always ignores the err),
    #       add n, restringify — the Temp p+1 next-page walk
    #       (car_home.go:60, ganji_gongsi.go:60)
    #   ("ceil_div", d)           str(ceil(Atoi(v) / d)), d > 0 — the
    #       totalCount→pageCount arithmetic (googlesearch.go:109
    #       ceil(num/10); chain ("int_add", -4), ("ceil_div", 44) for
    #       taobaosearch.go:71-74's round-up division)
    #   ("clean_html"[, depth])   spidercommon.CleanHtml(v, depth)
    #       (common.go:18-41; depth default 5) — the reference's
    #       standard cleanup applied to extracted values before they
    #       ride AddQueue temps or Output (baidunews.go:128-132
    #       CleanHtml(v.Title, 4); :203 CleanHtml(infoStr, 5))
    #
    # Transforms run BEFORE the temp_fields merge (an inherited temp
    # was already transformed by its producing rule) and before
    # carry_fields/link_fields/PaginateRule read the item, so carried
    # values, emitted links, and page counts see the final form. Two
    # fields may share one field_css projection and diverge here (the
    # reference's split-one-string-into-two-columns idiom,
    # fang_resell_list.go:77-81 address/business).
    field_transforms: tuple[tuple[str, tuple[tuple, ...]], ...] = ()
    # require_fields: drop an extracted item entirely when any listed
    # field is empty after field_transforms — the reference's
    # skip-before-Output guard (baidusearch.go:46-48
    # `if title == "" || href == "" { return }` inside the Each loop;
    # the item then also enqueues nothing). Evaluated on the
    # extracted+transformed values, BEFORE the temp_fields merge (the
    # Go guard reads ParseFunc locals, never GetTemp).
    require_fields: tuple[str, ...] = ()
    # forbid_fields: the inverse guard — drop the item when any listed
    # field is NON-empty after transforms. The reference's
    # if-this-exists-take-the-other-branch idiom: wangyi.go:119-128
    # (a .ep-pages-all link present → AddQueue the full-text page and
    # `return` before Output) and alibaba.go:63-75 (pagination tag
    # absent → fall back to category links). Two ExtractRules sharing
    # one rule name, one require_fields=(probe,) and one
    # forbid_fields=(probe,), express the whole branch pair.
    forbid_fields: tuple[str, ...] = ()
    # require_equals: ((field, temp_key), ...) — keep the item only
    # when each field's transformed value string-equals the request's
    # temp value under temp_key (missing temp → ""). The reference's
    # page-walk guard comparing extracted state against carried Temp:
    # car_home.go:55-57 / ganji_gongsi.go:54-56
    # `if Find(".pages .cur").Text() != strconv.Itoa(GetTemp("p"))
    # { return }` — the conditional next-page probe. Runs after
    # require_fields, before the temp_fields merge.
    require_equals: tuple[tuple[str, str], ...] = ()
    # carve: ("pattern"[, group]) — regex-carve the decoded body
    # BEFORE kind parsing: the page becomes re.search(pattern).group
    # (group default 1; no match → no items). The reference's
    # embedded-JSON idiom — carve the array out of an HTML <script>
    # then Unmarshal it (taobaosearch.go:146-160 `"auctions":...`
    # FindString + two ReplaceAllString + json.Unmarshal;
    # hollandandbarrett and jd carve counts the same way). Composes
    # with kind="json": item_pattern walks the CARVED document.
    carve: tuple = ()
    # dynamic_kv: ("keys_field", "values_field", sep) — RUNTIME item
    # columns, the reference's ctx.UpsertItemField surface
    # (context.go:246-253; taobaosearch.go:158-198: parse attribute
    # (name, value) pairs off the page, upsert each name into
    # ItemFields and set r[name] = value). The two named fields hold
    # sep-JOINED parallel lists (author them with @each projections
    # sharing the separator); after transforms/guards they are zipped
    # — empty-key pairs skipped, shortest list wins (the Go loop's
    # bounds) — merged into the item's data map, and the two source
    # fields are dropped. Sinks order dynamic columns AFTER the static
    # ItemFields, sorted (deterministic; the reference's first-upsert
    # order is scheduling-dependent across pages).
    dynamic_kv: tuple = ()
    # const_fields: ((field, literal), ...) — fields emitted with a
    # constant value on every item, before transforms. The reference's
    # Output-a-literal idiom (area_codes.go:91-96 `0: a.Text(), ...,
    # 2: 0, 3: 0` — the level/parent constants of the top division).
    const_fields: tuple[tuple[str, str], ...] = ()
    # item_slice: (start[, stop[, step]]) Python slice over the page's
    # raw container matches in document order, applied BEFORE
    # transforms/guards — the reference's Each-loop ordinal gates:
    # kaola.go:49-50 `if i == 0 { return }` → (1,); IJGUC.go:75
    # `if k%2 == 0` → (0, None, 2); car_home.go:110 `for i := 6; ...`
    # → (6,). None = open end.
    item_slice: tuple = ()
    # emit=False: a ParseFunc that never calls ctx.Output — the rule's
    # items drive link_fields / carry_fields / PaginateRule but produce
    # NO output rows (baidunews.go:121-136 "XML列表页": AddQueues each
    # RSS entry, outputs nothing). Per ExtractRule: an emitting and a
    # non-emitting ExtractRule may share one rule name (baidusearch:
    # the result items Output while the page-level next-link probe
    # enqueues only) — the fused kernel tags non-emitting items and
    # the engine drops them at the items-table union
    emit: bool = True
    # json kind only: per-field NESTED dot-paths into each array
    # element — the reference's gjson.Get nested access
    # (wukongwenda.go:113-119 `gjson.Get(value.String(),
    # "question.title")`; taobao.go, lewa.go use the same idiom).
    # ``(field, "dot.path")`` entries; a field without an entry keeps
    # the top-level-key lookup. Missing path / non-dict intermediate →
    # "" (gjson's empty Result.String()); non-string leaves are
    # JSON-stringified like top-level fields.
    field_json: tuple[tuple[str, str], ...] = ()
    # cursor pagination (json kind): after this rule's items are
    # extracted from a page, enqueue ONE follow-up request whose URL is
    # the page URL with query param ``cursor[1]`` replaced by the LAST
    # item's ``cursor[0]`` value — the reference's behot_time walk
    # (wukongwenda.go:125-141: strip any existing "&max_behot_time=…"
    # from ctx.GetURL(), append the last question's offset, AddQueue
    # back into the same rule). The child routes through link_rules
    # like any out-link (the URL keeps the API path, so the same
    # LinkRule matches — the reference names the same rule explicitly).
    # No items → no cursor child (questionlist empty means data was
    # empty). ``("offset_field", "cursor_param")``.
    cursor: tuple[str, str] | tuple = ()
    # optional gate for ``cursor``: ("root.dot.path", "value") — the
    # follow-up is enqueued only when the PAGE-level JSON value at the
    # root-relative path stringifies to exactly ``value`` (the
    # reference's `if more == "true"` on the root has_more field,
    # wukongwenda.go:109,125). Empty = always paginate while items
    # flow.
    cursor_require: tuple[str, str] | tuple = ()
    # out_rule: emit this rule's items under ANOTHER rule name — the
    # reference's ``ctx.Parse("<other>")`` re-dispatch, which calls
    # ``SetRuleName`` so the item's provenance (and the sink's
    # namespace/ItemFields lookup) carries the DELEGATED rule
    # (context.go:356-374; zolpc.go:60-65 parses each forum row under
    # "获取结果", googlesearch.go:123 re-parses the count page as
    # "search_results"). The ExtractRule still BINDS to ``rule`` (the
    # rule the page was fetched under); only the emitted items are
    # relabeled. link_fields/carries/pagination are unaffected.
    out_rule: str | None = None


@dataclasses.dataclass(frozen=True)
class PaginateRule:
    """Declarative totalPage pagination — the reference's
    extract-count-then-Aid-loop idiom (miyabaobei.go:86-105:
    ``totalPage = urls.Eq(urls.Length()-2).Text()`` then
    ``ctx.Aid({"loop": [1, total], ...})``; the same shape appears in
    taobao.go, jdSpider.go and lewa.go).

    An ExtractRule on ``rule`` extracts the page count into
    ``count_field`` (the new ``@count`` / ``@eq(-n)`` / ``@last``
    projections express every reference variant); the engine then
    expands pages ``start..min(count, max_pages)`` into child requests
    ENTIRELY JVM-side — ``sequence`` + ``format_string``, no driver
    loop, no Python — pushed after the page's anchors / figure srcs /
    link_fields children in FIFO order.

    ``url_template`` is a printf template: ``%d`` receives the page
    number; an optional leading ``%s`` receives ``base_field``'s value
    from the same item (the reference's ``ctx.GetTemp("baseUrl")``
    carry) or, when ``base_field`` is None, the emitting page's own
    URL. Generated requests take ``target_rule``/``priority``/
    ``method`` directly (ctx.Aid names the rule — LinkRule routing is
    bypassed) but still pass canonicalization, robots, limit and
    history dedup like every child."""

    rule: str  # rule whose extracted items carry the count
    count_field: str  # item field holding the decimal page count
    url_template: str  # printf: '%d' = page, optional leading '%s' = base
    target_rule: str  # rule assigned to generated page requests
    base_field: str | None = None  # '%s' source field (None = page URL)
    start: int = 2  # first generated page (page 1 is the page itself)
    max_pages: int | None = None  # hard cap on the expansion
    priority: int = 0
    method: str = "GET"
    # Temp carried onto every generated page request — the reference
    # passes the grown temp on the next-page AddQueue (taobao.go:244-250
    # ``Temp: temp``): each child gets {dst: item[src]} from the
    # emitting item; entries are 'f' or ('src', 'dst') like
    # ExtractRule.carry_fields
    carry_fields: tuple = ()
    # affine page numbering: the value substituted for '%d' is
    # ``mult*i + add`` where i walks start..count — the reference's
    # dual-URL loops enqueue pages 2i-1 and 2i per iteration
    # (jdSpider.go:84-97, jdsearch.go:52-62: odd /Search pages + even
    # async /s_new.php pages): declare TWO PaginateRules on the same
    # rule with page_expr (2,-1) and (2,0). Default (1,0) = identity.
    page_expr: tuple[int, int] = (1, 0)


@dataclasses.dataclass(frozen=True)
class SpiderSpec:
    name: str
    link_rules: tuple[LinkRule, ...] = (
        LinkRule("/p/", "list", 0),
        LinkRule("/d/", "detail", 1),
        LinkRule("/img/", "image", 2),
    )
    item_rules: tuple[str, ...] = ("detail",)  # rules that emit item rows
    image_rule: str = "image"  # the FileOutput-style rule
    # raw-body FileOutput rules (see FileRule): bodies land in the
    # ``files`` table with context.go:247-284 naming instead of being
    # parsed as pages or decoded as images
    file_rules: tuple[FileRule, ...] = ()
    reloadable_urls: frozenset[str] = frozenset()  # request.go:270-277 opt-out
    limit: int | None = None  # total enqueue cap (matrix.go:59-61,97)
    max_depth: int | None = None
    # user-authored extraction rules (see ExtractRule); items they emit
    # land in the same items table alongside the built-in figure items
    extract_rules: tuple[ExtractRule, ...] = ()
    # the automatic anchor/figure crawl: every <a href> and <img src>
    # on a fetched page is routed through link_rules (the fixture-site
    # conformance model). The REFERENCE has no automatic following —
    # ParseFuncs enqueue explicitly via ctx.AddQueue (context.go:104-125)
    # — so 1:1 rule ports that enqueue exclusively through
    # ``link_fields`` / PaginateRule set this False: only rule-authored
    # children reach the frontier (a decoy anchor outside the rule's
    # selector scope must NOT be crawled, zhihu_daily.go:70-74)
    follow_anchors: bool = True
    # extract-count-then-expand pagination (see PaginateRule)
    paginate_rules: tuple[PaginateRule, ...] = ()
    # content-derived sub-namespace (spider.go:40-47 SubNamespace func;
    # baidunews.go:80-82 returns dataCell["分类"]): when set, sinks
    # group/partition output by THIS item-data field's value instead of
    # the rule name — the reference's data-dependent table naming. The
    # engine's items table always keeps the rule column; the sink layer
    # (sinks.export_items_csv / export_items_xlsx sub_field=) applies it
    sub_namespace_field: str | None = None
    # carry_concat: temp keys that CONCATENATE (emission order) when
    # one URL is emitted several times on a page — the reference's
    # accumulate-ranks-into-a-map idiom (wangyi.go:74-90
    # ``urls_top[url] += topTit[n]+":"+top+","`` across six rank tabs,
    # then one AddQueue per distinct URL). Page-local, like the Go
    # map; other temp keys keep the first emission's value; cross-page
    # duplicates stay first-wins via history dedup.
    carry_concat: tuple[str, ...] = ()
    # static extra request headers sent with EVERY fetch — the
    # reference's `request.Request{Header: http.Header{...}}` when the
    # values are constants (avatar.go / alibaba.go / taobao.go set the
    # same header on each AddQueue). PER-REQUEST headers are data, not
    # spec: put them in the request's Temp map under "hdr:<Name>" keys
    # (seed(temp={"hdr:Cookie": ...}) — the weibo_fans.go:62 keyin-
    # sourced Cookie — or carry_fields=(("field", "hdr:X"),) to derive
    # one from an extracted field); dynamic entries override same-named
    # static ones. The engine merges both into one `hdr` JSON column
    # JVM-side (fetch.headers_col) at fetch dispatch.
    headers: tuple[tuple[str, str], ...] = ()

    def route(self, url: str) -> LinkRule | None:
        for lr in self.link_rules:
            if lr.pattern in url:
                return lr
        return None

    def item_fields(self) -> dict[str, tuple[str, ...]]:
        """rule → ordered ItemFields. Built-in figure items carry
        (image_id, caption); ExtractRules declare their own order.
        Feeds the rule_fields dimension for ordered sink columns."""
        out = {r: ("image_id", "caption") for r in self.item_rules}
        for er in self.extract_rules:
            fields = er.fields
            if er.dynamic_kv:
                # the joined key/value source fields never reach the
                # item (dynamic_kv pops them after zipping)
                fields = tuple(f for f in fields if f not in er.dynamic_kv[:2])
            # out_rule items land under the delegated rule name, so
            # sink column order keys there (ctx.Parse → SetRuleName)
            out[er.out_rule or er.rule] = fields
        return out


def parse_keyins(raw: str) -> list[str]:
    """Split a ``"<a><b>"``-style keyin string into unique tokens,
    preserving first-seen order (``common/util/util.go:407-431``).
    A string without angle brackets is a single token.
    """
    if not raw:
        return []
    toks = re.findall(r"<([^<>]*)>", raw)
    if not toks:
        toks = [raw]
    seen: list[str] = []
    for t in toks:
        if t and t not in seen:
            seen.append(t)
    return seen


def fanout_spider_name(name: str, keyin: str) -> str:
    """Spider-clone naming for keyin fan-out (``app/crawler/spiderqueue.go:56-90``;
    reference subnames the clone by its keyin)."""
    return f"{name}__{keyin}" if keyin else name


KEYIN_TOKEN = "%keyin%"
# query-escaped variant — the reference's Root-side
# `url.QueryEscape(ctx.GetKeyin())` (baidusearch.go:26,
# googlesearch/jdsearch alike): search seeds embed the keyin in a query
# string, which must be percent-encoded
KEYIN_ESC_TOKEN = "%keyin_esc%"
# percent-escaped GBK-encoded keyin — the spidercommon.EncodeString
# (keyin, "gbk") seed idiom (alibaba.go:49)
KEYIN_GBK_TOKEN = "%keyin_gbk%"


def apply_keyin(url: str, keyin: str) -> str:
    if not keyin:
        return url
    if KEYIN_ESC_TOKEN in url:
        from urllib.parse import quote_plus

        # Go's url.QueryEscape: space → '+', everything else %XX
        url = url.replace(KEYIN_ESC_TOKEN, quote_plus(keyin))
    if KEYIN_GBK_TOKEN in url:
        from urllib.parse import quote

        # spidercommon.EncodeString(keyin, "gbk") (alibaba.go:49):
        # percent-escaped GBK bytes (gb18030 = the strict superset
        # registry codec, matching the decode side)
        url = url.replace(
            KEYIN_GBK_TOKEN, quote(keyin.encode("gb18030"), safe="")
        )
    return url.replace(KEYIN_TOKEN, keyin)
