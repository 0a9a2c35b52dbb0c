"""Vectorized HTML extraction — links and figure/caption pairs.

Replaces the reference's lazy goquery DOM + ParseFunc rules
(`app/spider/context.go:610-700`, `common/goquery/`): our rules are
declarative (spiderspec.py) so extraction reduces to two vectorized
operations over Arrow batches — anchor hrefs in document order and
``<figure><img ...><p class=caption>`` pairs — plus charset transcode
(`context.go:678-736`: Content-Type charset sniff, non-UTF-8 → UTF-8).

Everything runs in one Arrow-batch kernel, ``parse_pages_kernel``,
which every fetcher's ``parse_pages`` maps over its pages (never
per-row Python UDFs in the Spark plan), and which also canonicalizes
every link it emits, so the crawl crosses the Python boundary once per
page; regex parsing is the idiomatic scale path since page HTML is
machine-generated in the fixture and well-formed subsets suffice for
conformance. A full selector library (selectolax/lxml) would slot into
the same kernel on a real cluster.
"""

from __future__ import annotations

import html as html_mod
import re

import pandas as pd

from .keys import absolutize_safe, canon_host

_CHARSET_RE = re.compile(r"charset=[\"']?([\w-]+)", re.I)
_META_CHARSET_RE = re.compile(
    rb"<meta[^>]+charset=[\"']?([\w-]+)", re.I
)
_HREF_RE = re.compile(r"<a\s[^>]*href=\"([^\"]*)\"", re.I)
_FIGURE_RE = re.compile(
    r"<figure><img\s+src=\"([^\"]*)\">\s*<p class=\"caption\">(.*?)</p></figure>",
    re.I | re.S,
)


def sniff_charset(body: bytes, content_type: str) -> str:
    """Charset resolution order mirroring the reference
    (`context.go:678-736`, x/net/html/charset.DetermineEncoding):
    byte-order mark > Content-Type header param > ``<meta charset>`` /
    ``<meta http-equiv>`` in the first 1024 bytes > utf-8 default.
    Legacy GB aliases widen to gb18030 (strict superset)."""
    if body[:3] == b"\xef\xbb\xbf":
        return "utf-8-sig"
    if body[:2] in (b"\xff\xfe", b"\xfe\xff"):
        return "utf-16"
    charset = None
    m = _CHARSET_RE.search(content_type or "")
    if m:
        charset = m.group(1)
    else:
        mm = _META_CHARSET_RE.search(body[:1024])
        if mm:
            charset = mm.group(1).decode("ascii", errors="replace")
    charset = (charset or "utf-8").lower()
    if charset in ("gb2312", "gbk", "gb18030"):
        charset = "gb18030"
    return charset


def decode_body(body: bytes, content_type: str) -> str:
    """Charset-sniffed decode (reference: `context.go:678-736`): any
    charset the codec registry knows (big5, shift_jis, euc-kr,
    iso-8859-*, koi8-r, utf-16, ...), utf-8 fallback on unknown
    labels — never fails (errors='replace'), matching the reference's
    drop-invalid-runes posture."""
    charset = sniff_charset(body, content_type)
    try:
        return body.decode(charset, errors="replace")
    except LookupError:
        return body.decode("utf-8", errors="replace")


# ---------------------------------------------------------------------------
# HTML cleaning helpers — reference `app/spider/common/common.go:19-101`
# (CleanHtml, 5 aggressiveness depths) and `:210-232` (ExtractArticle,
# longest-text-block heuristic). Re-expressed from the documented
# behavior, vectorizable per Arrow batch.
# ---------------------------------------------------------------------------

_DOCTYPE_RE = re.compile(r"<!DOCTYPE[^>]*>", re.I)
_COMMENT_RE = re.compile(r"<!--.*?-->", re.S)
_SCRIPT_RE = re.compile(r"<script[^>]*>.*?</script>", re.I | re.S)
_STYLE_RE = re.compile(r"<style[^>]*>.*?</style>", re.I | re.S)
_TAG_RE = re.compile(r"<[^>]+>")
_WS_RE = re.compile(r"[ \t\r\f\v]+")
_NL_RE = re.compile(r"\n+")
_BLOCK_SPLIT_RE = re.compile(r"</?(?:p|div|article|section|br)[^>]*>", re.I)


def clean_html(text: str, depth: int = 5) -> str:
    """Progressive HTML cleaning, cumulative by depth — an EXTENDED
    ladder (superset of the reference's: also strips doctype and
    comments, which `common.go:18-41` never does): 1 = drop doctype,
    2 = + comments, 3 = + script/style blocks, 4 = + all tags
    (entity-unescaped), 5 = + whitespace collapse. The exact
    reference-parity CleanHtml chain (JVM-side, same depth meanings as
    common.go) lives in ``functions/html_clean.py``; this python form
    feeds :func:`extract_article`."""
    if text is None:
        return None
    out = text
    if depth >= 1:
        out = _DOCTYPE_RE.sub("", out)
    if depth >= 2:
        out = _COMMENT_RE.sub("", out)
    if depth >= 3:
        out = _SCRIPT_RE.sub("", out)
        out = _STYLE_RE.sub("", out)
    if depth >= 4:
        out = html_mod.unescape(_TAG_RE.sub("", out))
    if depth >= 5:
        out = _WS_RE.sub(" ", out)
        out = _NL_RE.sub("\n", out).strip()
    return out


def extract_article(text: str) -> str:
    """Main-content heuristic (`common.go:210-232`): split on block-level
    tags, clean each block, return the longest text block."""
    if text is None:
        return None
    blocks = _BLOCK_SPLIT_RE.split(text)
    best = ""
    for b in blocks:
        t = clean_html(b, depth=5)
        if t and len(t) > len(best):
            best = t
    return best


# hidden marker key tagging items produced by an emit=False ExtractRule
# (a ParseFunc that never calls ctx.Output): the fused parse flattens
# every same-named rule's items into ONE dsl_items array, so emit is
# carried per ITEM, letting emitting and non-emitting ExtractRules
# share a rule name (baidusearch: the result items Output while the
# page-level next-link probe does not). The engine strips the key
# before the items-table union; links/carries/paginate counts read
# explicit field names and never see it.
NOEMIT_KEY = "\x00noemit"
# hidden marker carrying an ExtractRule.out_rule relabel (ctx.Parse →
# SetRuleName, context.go:356-374): the engine's items union reads it
# as the item's rule column and strips it from the data map
OUTRULE_KEY = "\x00outrule"


def rule_spec_tuples(extract_rules) -> list[tuple]:
    """ExtractRules → plain picklable (rule, kind, pattern, fields,
    field_css, link_fields, carry_fields, temp_fields,
    field_transforms) tuples for UDF closures (compile
    regexes/selectors task-side with :func:`compile_rule_specs`)."""
    return [
        (
            er.rule,
            getattr(er, "kind", "regex"),
            er.item_pattern,
            tuple(er.fields),
            tuple(getattr(er, "field_css", ()) or ()),
            tuple(getattr(er, "link_fields", ()) or ()),
            tuple(getattr(er, "carry_fields", ()) or ()),
            tuple(getattr(er, "temp_fields", ()) or ()),
            tuple(getattr(er, "field_transforms", ()) or ()),
            bool(getattr(er, "emit", True)),
            tuple(getattr(er, "require_fields", ()) or ()),
            tuple(getattr(er, "field_json", ()) or ()),
            tuple(getattr(er, "cursor", ()) or ()),
            tuple(getattr(er, "cursor_require", ()) or ()),
            getattr(er, "out_rule", None) or "",
            tuple(getattr(er, "require_equals", ()) or ()),
            tuple(getattr(er, "forbid_fields", ()) or ()),
            tuple(getattr(er, "item_slice", ()) or ()),
            tuple(getattr(er, "const_fields", ()) or ()),
            tuple(getattr(er, "dynamic_kv", ()) or ()),
            tuple(getattr(er, "carve", ()) or ()),
        )
        for er in extract_rules
    ]


def _pick_part(parts: list[str], i: int, expect, on_mismatch: str, v: str) -> str:
    """Shared guard semantics for split_pick/fields_pick (the
    reference's ``if len(sp) == n`` branches, fang_resell_list.go:77-81)."""
    ok = (
        len(parts) == expect
        if expect is not None
        else -len(parts) <= i < len(parts)
    )
    if not ok:
        return v if on_mismatch == "keep" else ""
    return parts[i]


# CleanHtml(str, depth) — the reference's exact regex chain
# (`app/spider/common/common.go:18-41`), case-sensitive post-lowercase
# like the Go original. The JVM column twin is
# functions.html_clean.clean_html; this pure-python form runs inside
# the Arrow-batched transform closures (the baidunews.go:128-132 idiom
# `spidercommon.CleanHtml(v.Title, 4)` applied to extracted values
# before they ride AddQueue temps).
_CH_TAG_RE = re.compile(r"<[\S\s]+?>")
_CH_STYLE_RE = re.compile(r"<style[\S\s]+?</style>")
_CH_SCRIPT_RE = re.compile(r"<script[\S\s]+?</script>")
_CH_WS_RE = re.compile(r"\s{2,}")


def clean_html_py(v: str, depth: int = 5) -> str:
    """common.go:18-41 CleanHtml: depth>0 lowercases tags, >1 drops
    <style> blocks, >2 drops <script> blocks, >3 replaces every
    remaining tag with newline, >4 collapses whitespace runs."""
    if depth > 0:
        v = _CH_TAG_RE.sub(lambda m: m.group(0).lower(), v)
    if depth > 1:
        v = _CH_STYLE_RE.sub("", v)
    if depth > 2:
        v = _CH_SCRIPT_RE.sub("", v)
    if depth > 3:
        v = _CH_TAG_RE.sub("\n", v)
    if depth > 4:
        v = _CH_WS_RE.sub("\n", v)
    return v


_ATOI_RE = re.compile(r"^[+-]?\d+$", re.ASCII)


def _atoi(v: str) -> int:
    """Go ``strconv.Atoi`` with the reference rules' universal
    ignore-the-error semantics (``num, _ := strconv.Atoi(txt)`` →
    0 on any parse failure, googlesearch.go:108). No whitespace
    tolerance, like Go — chain ``("trim",)`` first, as the reference
    itself does (alibaba.go:78-79)."""
    return int(v) if _ATOI_RE.match(v) else 0


def compile_transforms(field_transforms: tuple) -> dict:
    """``ExtractRule.field_transforms`` spec → {field: str→str callable}.

    The engine half of the declarative post-extraction munge surface
    (spiderspec.ExtractRule.field_transforms documents the op grammar;
    the conformance oracle interprets the same spec independently)."""
    out = {}
    for field, ops in field_transforms:
        fns = []
        for op in ops:
            name, args = op[0], op[1:]
            if name == "trim":
                chars = args[0] if args else None
                fns.append(lambda v, c=chars: v.strip(c))
            elif name in ("trim_left", "trim_right"):
                # Go strings.TrimLeft/TrimRight: CUTSET semantics
                # (googlesearch.go:144 TrimLeft(href, "/url?q="))
                chars = args[0]
                fns.append(
                    (lambda v, c=chars: v.lstrip(c))
                    if name == "trim_left"
                    else (lambda v, c=chars: v.rstrip(c))
                )
            elif name == "replace":
                old, new = args[0], args[1]
                n = args[2] if len(args) > 2 else -1
                fns.append(lambda v, o=old, w=new, c=n: v.replace(o, w, c))
            elif name == "split_pick":
                sep, i = args[0], args[1]
                expect = args[2] if len(args) > 2 else None
                miss = args[3] if len(args) > 3 else "keep"
                fns.append(
                    lambda v, s=sep, i=i, e=expect, m=miss: _pick_part(
                        v.split(s), i, e, m, v
                    )
                )
            elif name == "fields_pick":
                i = args[0]
                expect = args[1] if len(args) > 1 else None
                miss = args[2] if len(args) > 2 else "keep"
                fns.append(
                    lambda v, i=i, e=expect, m=miss: _pick_part(
                        v.split(), i, e, m, v
                    )
                )
            elif name == "regex_sub":
                pat = re.compile(args[0], re.S)
                repl = args[1]
                n = args[2] if len(args) > 2 else 0
                fns.append(lambda v, p=pat, r=repl, c=n: p.sub(r, v, count=c))
            elif name == "regex_find":
                # Go FindString / FindStringSubmatch[g]: first match's
                # group g, '' when no match (jdsearch.go:72-74)
                pat = re.compile(args[0], re.S)
                g = args[1] if len(args) > 1 else 0
                fns.append(
                    lambda v, p=pat, g=g: (
                        (m.group(g) or "") if (m := p.search(v)) else ""
                    )
                )
            elif name == "default":
                fns.append(lambda v, s=args[0]: v if v else s)
            elif name == "prefix":
                fns.append(lambda v, s=args[0]: s + v)
            elif name == "suffix":
                fns.append(lambda v, s=args[0]: v + s)
            elif name == "int_add":
                fns.append(lambda v, n=args[0]: str(_atoi(v) + n))
            elif name == "ceil_div":
                fns.append(lambda v, d=args[0]: str(-(-_atoi(v) // d)))
            elif name in ("temp_prefix", "temp_suffix"):
                # compose with the REQUEST temp's value (the
                # GetTemp-built URL idiom, hollandandbarrett.go:92-100
                # baseUrl + "?showAll=" + total): the only ops with
                # request context — transforms run before the
                # temp_fields item merge, so a temp can compose here
                # without ordering paradoxes. Kept as marker tuples;
                # _chain resolves them against the temp it is given.
                fns.append((name, args[0]))
            elif name == "clean_html":
                depth = args[0] if args else 5
                fns.append(lambda v, d=depth: clean_html_py(v, d))
            elif name == "main_content":
                # commonPrase/findP (baidunews.go:183-216): climb from
                # the last h1/h2/h3 to the nearest p-bearing ancestor,
                # project its inner HTML; chain ("clean_html", 5) after
                # it like the reference does
                from .functions.content import common_parse

                fns.append(common_parse)
            else:
                raise ValueError(f"unknown transform op {name!r}")

        def _chain(v: str, temp=None, fns=tuple(fns)) -> str:
            for f in fns:
                if isinstance(f, tuple):  # temp-context op
                    tval = str((temp or {}).get(f[1]) or "")
                    v = tval + v if f[0] == "temp_prefix" else v + tval
                else:
                    v = f(v)
            return v

        out[field] = _chain
    return out


_IDX_EQ_RE = re.compile(r"^eq\((-?\d+)\)(.*)$", re.S)
_IDX_LAST_RE = re.compile(r"^last(?![\w-])(.*)$", re.S)
_IDX_EACH_RE = re.compile(r"^each\(([^)@]*)\)(.*)$", re.S)

# segment-index sentinel for ``@each(sep)`` — stored as ("each", sep)
# in the (selector, index) chain both parsers produce
EACH = "each"


def parse_field_spec(spec: str) -> tuple[list[tuple[str, int]], str]:
    """Parse a ``field_css`` projection spec into
    ``([(selector, index), ...], projection)``.

    Grammar (goquery ``Find``/``Eq``/``Last`` chains, the shape the
    reference rules use — e.g. ``shunfenghaitao.go:98``
    ``Find(".goods-c2 ul").Eq(0).Find("li").Eq(2).Text()`` becomes
    ``".goods-c2 ul@eq(0) li@eq(2)@text"``):

    - ``"<sel>@<proj>"``            — first match of sel (``.Eq(0)``)
    - ``"<sel>@eq(n)@<proj>"``      — n-th match, 0-based (``.Eq(n)``)
    - ``"<sel>@last@<proj>"``       — last match (``.Last()``)
    - ``"<s1>@eq(i) <s2>@eq(j)@<proj>"`` — chained Find steps: each
      ``@eq``/``@last`` closes a segment; the next selector searches
      WITHIN that segment's chosen element
    - ``"@<proj>"``                 — project from the container itself

    ``index`` is the 0-based match ordinal, or ``-1`` for ``@last``.
    Negative ordinals count from the end like goquery's ``Eq(-n)``
    (selection.go: "If index is negative, it counts from the end") —
    ``@eq(-2)`` is second-to-last, the miyabaobei.go:90 idiom
    ``urls.Eq(urls.Length() - 2)``. ``@eq(-1)`` ≡ ``@last``. Ordinals
    ≤ -2 are only accepted on the FINAL segment of a chain (the SAX
    oracle evaluates them with a bounded last-n buffer, which cannot
    fork deeper Find stages; both parsers reject non-final uses
    identically, keeping the two-implementation property).
    The final token is the projection: ``text``, ``html`` (inner HTML
    — goquery ``.Html()``, e.g. ``jiban.go:104``
    ``jo.Find(".articleContent").Html()`` →
    ``".articleContent@html"``), ``count`` (match count as a decimal
    string — goquery ``.Length()``, e.g. miyabaobei.go:88
    ``urls.Length()`` → ``"a@count"``; must follow a bare selector),
    or an attribute name (``eq(...)``/``last``/``html``/``count`` are
    reserved and never attribute names).
    An out-of-range index yields '' at apply time, like goquery's empty
    selection -> ``Text()``/``Attr()`` defaults.

    goquery ``.Children().Eq(n)`` (``fang_resell_list.go:106-108``)
    needs no dedicated token: ``Find(X).Children()`` is the selector
    ``"X > *"`` (all elements whose parent matches X, document order),
    so ``Find("div.area").Children().Eq(0).Text()`` is
    ``"div.area > *@eq(0)@text"``.

    ``@each(<sep>)`` — EVERY match of the segment, not one: the rest of
    the chain (and the final projection) is evaluated once per matched
    element, and the per-match values are joined with ``sep`` in
    document order. This is goquery's two multi-match idioms in one
    token: ``.Each``-loop accumulation (car_home.go:113-128
    ``关注的车 += f + "|"`` → ``"li@each(|) a@last@title"``) and
    multi-selection ``.Text()``, which concatenates over ALL matches
    (taobaosearch.go:59 / jdSpider.go:63 ``Find("script").Text()`` →
    ``"script@each()@text"``). Empty selection → ``""`` (join of
    nothing). At most one ``@each`` per spec; its selector must be
    non-empty; ``sep`` may be empty but cannot contain ``@`` or ``)``.
    """
    parts = spec.split("@")
    segments: list[tuple[str, int]] = []
    sel = parts[0].strip()
    proj = "text"
    for i, tok in enumerate(parts[1:]):
        m_eq = _IDX_EQ_RE.match(tok)
        m_last = _IDX_LAST_RE.match(tok)
        m_each = _IDX_EACH_RE.match(tok)
        if m_eq:
            segments.append((sel, int(m_eq.group(1))))
            sel = m_eq.group(2).strip()
        elif m_last:
            segments.append((sel, -1))
            sel = m_last.group(1).strip()
        elif m_each:
            if not sel:
                raise ValueError(
                    f"bad field spec {spec!r}: @each needs a selector "
                    "(a container match is a single element)"
                )
            segments.append((sel, (EACH, m_each.group(1))))
            sel = m_each.group(2).strip()
        else:
            if i != len(parts) - 2:
                raise ValueError(
                    f"bad field spec {spec!r}: projection token {tok!r} "
                    "must be final"
                )
            proj = tok.strip() or "text"
    if proj == "count" and not sel:
        # goquery .Length() (miyabaobei.go:88 urls.Length()): counts
        # the FULL match set of a trailing bare selector; an explicit
        # @eq/@last right before @count (a 0/1-element selection) is
        # rejected — write the index step one segment earlier instead
        raise ValueError(
            f"bad field spec {spec!r}: @count must follow a bare "
            "selector (no @eq/@last on the counted segment)"
        )
    if sel:
        segments.append((sel, 0))
    for s, idx in segments[:-1]:
        if isinstance(idx, int) and idx <= -2:
            raise ValueError(
                f"bad field spec {spec!r}: @eq({idx}) (negative,"
                " from-end) is only supported on the final segment"
            )
    n_each = sum(
        1 for _s, idx in segments if isinstance(idx, tuple)
    )
    if n_each > 1:
        raise ValueError(
            f"bad field spec {spec!r}: at most one @each per spec"
        )
    return segments, proj


def _compile_css_spec(pat: str, fields: tuple, field_css: tuple):
    """(container-chains, [(field, [(sub-chains, index)], projection,
    is_root)]) — an empty segment list means project from the container
    element itself; each segment is a goquery Find+Eq/Last step. A spec
    with a leading ``^`` is ROOT-anchored: evaluated once per PAGE from
    the document root instead of per container — the reference's
    page-level lookups mixed into row rules (wangyi.go:73
    ``query.Find(".titleBar h2").Text()`` while the rows iterate
    ``.tabContents tr``; ``query`` is the document)."""
    from . import css as css_mod

    container = css_mod.compile_selector(pat)
    projections = []
    fc = dict(field_css)
    for f in fields:
        spec = fc.get(f, "@text")
        is_root = spec.startswith("^")
        segments, proj = parse_field_spec(spec[1:] if is_root else spec)
        projections.append(
            (
                f,
                [(css_mod.compile_selector(s), idx) for s, idx in segments],
                proj,
                is_root,
            )
        )
    return container, projections


def compile_rule_specs(specs: list[tuple]) -> list[tuple]:
    """Task-side: compile the regex/css kinds once per task. Output
    tuples: (rule, kind, compiled-key, fields, link_fields,
    carry_fields, temp_fields, compiled-transforms, emit,
    require_fields)."""
    out = []
    for rule, kind, pat, fields, field_css, link_fields, carry, tf, *rest in specs:
        if kind == "regex":
            key = re.compile(pat, re.S)
        elif kind == "css":
            key = _compile_css_spec(pat, fields, field_css)
        else:
            key = pat
        tfx = compile_transforms(rest[0]) if rest and rest[0] else {}
        emit = rest[1] if len(rest) > 1 else True
        req = tuple(rest[2]) if len(rest) > 2 else ()
        fjson = dict(rest[3]) if len(rest) > 3 and rest[3] else {}
        cursor = tuple(rest[4]) if len(rest) > 4 else ()
        curreq = tuple(rest[5]) if len(rest) > 5 else ()
        outrule = rest[6] if len(rest) > 6 else ""
        reqeq = tuple(rest[7]) if len(rest) > 7 else ()
        forbid = tuple(rest[8]) if len(rest) > 8 else ()
        islice = tuple(rest[9]) if len(rest) > 9 else ()
        consts = tuple(rest[10]) if len(rest) > 10 else ()
        dynkv = tuple(rest[11]) if len(rest) > 11 else ()
        carve = tuple(rest[12]) if len(rest) > 12 else ()
        if carve:
            carve = (re.compile(carve[0], re.S),
                     carve[1] if len(carve) > 1 else 1)
        out.append(
            (rule, kind, key, fields, link_fields, carry, tf, tfx, emit,
             req, fjson, cursor, curreq, outrule, reqeq, forbid, islice,
             consts, dynkv, carve)
        )
    return out


def json_step(node, part: str):
    """One gjson dot-path step: dict key, or — on a LIST — a decimal
    ordinal (gjson path.go array access, ``"contents.0.mainContent"``,
    the hollandandbarrett.go:128 nesting). Returns the marker
    ``_JSON_MISS`` when the step cannot resolve."""
    if isinstance(node, dict):
        return node[part] if part in node else _JSON_MISS
    if isinstance(node, list) and part.isdigit():
        i = int(part)
        return node[i] if i < len(node) else _JSON_MISS
    return _JSON_MISS


_JSON_MISS = object()


def json_path_str(node, path: str) -> str:
    """gjson-style dot-path get over parsed JSON, stringified: dict
    keys and numeric LIST ordinals (gjson ``a.0.b``); missing /
    unresolvable intermediate → "" (gjson's empty Result.String());
    string leaf as-is, other leaves JSON-serialized (numbers/bools
    render like gjson's String(): 3 → "3", true → "true")."""
    import json as json_mod

    for part in [p for p in path.split(".") if p]:
        node = json_step(node, part)
        if node is _JSON_MISS:
            return ""
    if node is None:
        return ""
    if isinstance(node, str):
        return node
    return json_mod.dumps(node, separators=(",", ":"))


def cursor_url(base: str, param: str, value: str) -> str:
    """Cursor-pagination URL: ``base`` with query param ``param`` set
    to ``value``, any previous occurrence removed — the reference
    strips the old cursor textually then re-appends
    (wukongwenda.go:134-140 strings.Split(visitURL,
    "&max_behot_time=")[0] + "&max_behot_time=" + newOffset). String
    surgery on the query (the oracle twin rebuilds via parse_qsl —
    an independent algorithm)."""
    from urllib.parse import quote

    # to fixpoint: one pass leaves a second adjacent occurrence behind
    # (its separator was consumed by the first match — '?p=1&p=2' kept
    # a stale 'p=2' ahead of the appended fresh cursor)
    pat = re.compile(r"([?&])" + re.escape(param) + r"=[^&]*&?")
    stripped = base
    while True:
        nxt = pat.sub(r"\1", stripped)
        if nxt == stripped:
            break
        stripped = nxt
    stripped = stripped.rstrip("?&")
    sep = "&" if "?" in stripped else "?"
    return stripped + sep + param + "=" + quote(str(value), safe="")


def _project_css(css_mod, target, segments, proj) -> str:
    """One field's chained Find→Eq/Last/Each→…→projection over the
    css.py tree (the engine twin of the oracle's single-pass
    _FieldMachine). ``segments`` is ``[(compiled-selector, index)]``
    where index is an int ordinal (negative = from-end, goquery
    ``Eq(-n)``) or the ``(EACH, sep)`` marker — every match evaluates
    the REST of the chain independently and the per-match values join
    with ``sep`` in document order (goquery ``.Each`` accumulation /
    multi-selection ``.Text()``)."""
    for si, (sub, idx) in enumerate(segments):
        if isinstance(idx, tuple):  # (EACH, sep)
            sep = idx[1]
            rest = segments[si + 1 :]
            return sep.join(
                _project_css(css_mod, el, rest, proj)
                for el in css_mod.select(target, sub)
            )
        found = css_mod.select(target, sub)
        if proj == "count" and si == len(segments) - 1:
            # goquery .Length(): the final segment's full match set
            # (empty upstream selection counts 0)
            return str(len(found))
        if idx < 0:  # from-end (@last / @eq(-n), goquery Eq(-n))
            target = found[idx] if len(found) >= -idx else None
        else:
            target = found[idx] if idx < len(found) else None
        if target is None:
            # dead chain: Find on an empty selection — .Length() is 0,
            # Text()/Attr() are '' (goquery empty-selection defaults)
            return "0" if proj == "count" else ""
    if proj == "text":
        return css_mod.node_text(target)
    if proj == "html":
        return css_mod.node_html(target)
    return css_mod.node_attr(target, proj) or ""


def apply_rule_spec(
    text: str, kind: str, key, fields: tuple, fjson: dict | None = None
) -> list[dict]:
    """One compiled rule over one decoded page → item dicts.

    regex: each match emits one item, named groups → fields
    (HTML-unescaped). json: ``key`` is the dot-path to the items array
    (``""`` = root); each element's ``fields`` are pulled by key,
    non-strings JSON-stringified (reference sinks' stringification,
    ``output_csv.go:56-60``). Malformed JSON / missing path → no items
    (the reference rule's Unmarshal-err branch logs and emits nothing).
    css: ``key`` is the compiled (container, projections) pair — one
    item per container match, fields via chained Find + Eq/Last
    sub-selection then Text/Attr (goquery surface; missing sub-match,
    out-of-range index, or absent attribute → '' like the reference's
    empty-selection ``Text()``/``Attr`` defaults, ``property.go``).
    xml: ``key`` is the dot-path (root-relative, root tag excluded —
    Go's ``xml.Unmarshal`` binds the top struct to the document element
    regardless of its name) to the repeated ITEM element, e.g.
    ``"channel.item"`` for RSS (baidunews.go:53-66 BaiduNewsRss).
    One item per path match; each field is the LAST direct child
    element of that name (encoding/xml overwrite-on-repeat for scalar
    fields) and its value is the element's DIRECT character data only —
    nested elements' text is skipped, exactly encoding/xml's
    ``saveData``-at-depth-1 rule. Malformed XML → no items (the
    baidunews.go:118-120 Unmarshal-err branch logs and emits nothing).
    """
    if kind == "css":
        from . import css as css_mod

        container, projections = key
        root = css_mod.parse_html(text)
        # root-anchored fields (^spec): once per page, from the
        # document root
        root_vals = {
            f: _project_css(css_mod, root, segments, proj)
            for f, segments, proj, is_root in projections
            if is_root
        }
        items = []
        for node in css_mod.select(root, container):
            row = {
                f: (
                    root_vals[f]
                    if is_root
                    else _project_css(css_mod, node, segments, proj)
                )
                for f, segments, proj, is_root in projections
            }
            items.append(row)
        return items
    if kind == "xml":
        import xml.etree.ElementTree as ET

        try:
            root = ET.fromstring(text)
        except ET.ParseError:
            return []
        path = "/".join(p for p in key.split(".") if p)
        if not path:
            return []
        items = []
        for el in root.findall(path):
            row = {}
            for f in fields:
                subs = el.findall(f)  # direct children only
                if not subs:
                    row[f] = ""
                else:
                    sub = subs[-1]  # encoding/xml: repeated scalar → last wins
                    # direct chardata: text before the first child +
                    # tails between/after children (depth-1 only)
                    row[f] = (sub.text or "") + "".join(
                        c.tail or "" for c in sub
                    )
            items.append(row)
        return items
    if kind == "json":
        import json as json_mod

        try:
            node = json_mod.loads(text)
        except ValueError:
            return []
        for part in [p for p in key.split(".") if p]:
            node = json_step(node, part)
            if node is _JSON_MISS:
                return []
        if not isinstance(node, list):
            return []
        items = []
        for el in node:
            if not isinstance(el, dict):
                # scalar array element (zhihu_bianji.go:112-121: msg is
                # a list of HTML-fragment STRINGS) — a single-field rule
                # takes the element itself; multi-field rules skip it
                if len(fields) == 1:
                    items.append(
                        {
                            fields[0]: el
                            if isinstance(el, str)
                            else ""
                            if el is None
                            else json_mod.dumps(el, separators=(",", ":"))
                        }
                    )
                continue
            row = {}
            for f in fields:
                # field_json nested dot-path (gjson.Get,
                # wukongwenda.go:113-119); plain top-level key otherwise
                path = (fjson or {}).get(f)
                v = json_path_str(el, path) if path else None
                if v is not None:
                    row[f] = v
                    continue
                v = el.get(f)
                if v is None:
                    row[f] = ""
                elif isinstance(v, str):
                    row[f] = v
                else:
                    row[f] = json_mod.dumps(v, separators=(",", ":"))
            items.append(row)
        return items
    return [
        {
            f: html_mod.unescape(m.groupdict().get(f) or "")
            for f in fields
        }
        for m in key.finditer(text)
    ]


# NOTE: an earlier `extract_items_vec` standalone items UDF was removed:
# it applied raw rule specs WITHOUT the per-rule pipeline the engine's
# fused parse runs (field_transforms, require/forbid guards, item_slice,
# const_fields, carve, dynamic_kv), so it silently produced different
# items than the engine for the same ExtractRules. The engine path
# (`udf_for` / `parse_pages_kernel`) is the one extraction surface.


def _apply_rules_for(
    compiled, text: str, rule: str, base_url: str, temp: dict | None = None,
    carry_concat: tuple = (),
):
    """All compiled ExtractRules matching `rule` over one decoded page:
    (items, link_fields-emitted links in item order, per-link carry
    temps — ``carry_fields`` values of the emitting item, None when the
    rule carries nothing: the reference's AddQueue ``Temp:`` map,
    shunfenghaitao.go:60).

    ``temp`` is the REQUEST's temp map: ``temp_fields`` values merge
    into each item BEFORE carries are computed (ctx.GetTemp in Output,
    shunfenghaitao.go:75), so a rule can re-carry an inherited temp to
    its own children — the reference's multi-hop goodsType chain."""
    if temp is not None and not isinstance(temp, dict):
        # Arrow hands MapType over as a dict; normalize the
        # list-of-pairs form some conversion paths produce (NaN → None)
        try:
            temp = dict(temp)
        except TypeError:
            temp = None
    row_items: list[dict] = []
    row_links: list[str] = []
    row_carries: list[dict | None] = []
    for (
        r, kind, key, fields, link_fields, carry_fields, tfs, tfx, _emit,
        req, fjson, cursor, curreq, outrule, reqeq, forbid, islice,
        consts, dynkv, carve,
    ) in compiled:
        if r != rule:
            continue
        # carve: the embedded-JSON pre-step (taobaosearch.go:146-160) —
        # the kind parses the regex-extracted span; no match → nothing
        page_text = text
        if carve:
            m = carve[0].search(text)
            if m is None:
                continue
            page_text = m.group(carve[1]) or ""
        items = apply_rule_spec(page_text, kind, key, fields, fjson)
        # item_slice: Each-loop ordinal gates over the RAW matches in
        # document order (kaola.go:49-50 `if i == 0 { return }`,
        # IJGUC.go:75 `if k%2 == 0`) — before transforms/guards.
        # (start[, stop[, step]]) — NOT bare slice(*t), whose 1-arg
        # form means stop
        if islice:
            items = items[
                slice(
                    islice[0],
                    islice[1] if len(islice) > 1 else None,
                    islice[2] if len(islice) > 2 else None,
                )
            ]
        # const_fields: literal output columns (area_codes.go:91-96
        # level/parent constants) — set before transforms
        if consts:
            for it in items:
                for f, v in consts:
                    it[f] = v
        # field_transforms run FIRST (the reference munges the local
        # variable before Output/AddQueue, fang_resell_list.go:74-135),
        # so temp merge / carries / links all see the final form
        if tfx:
            for it in items:
                for f, fn in tfx.items():
                    if f in it:
                        it[f] = fn(it[f], temp)
        # require_fields guard: drop the whole item when any listed
        # field is empty AFTER transforms — the reference's
        # skip-before-Output idiom (baidusearch.go:46-48 `if title ==
        # "" || href == "" { return }`). A dropped item emits nothing:
        # no output row, no link_fields children, no carry, no
        # PaginateRule count. Evaluated on the EXTRACTED+TRANSFORMED
        # values, before the temp merge (the guard reads ParseFunc
        # locals, not GetTemp).
        if req:
            items = [it for it in items if all(it.get(f) for f in req)]
        # forbid_fields: the inverse guard — a NON-empty listed field
        # drops the item (wangyi.go:119-128's full-text redirect branch,
        # alibaba.go:63-75's no-pagination fallback)
        if forbid:
            items = [
                it for it in items if not any(it.get(f) for f in forbid)
            ]
        # require_equals: extracted value must equal the request temp's
        # value (the car_home.go:55-57 / ganji_gongsi.go:54-56
        # current-page probe `Find(".pages .cur").Text() !=
        # strconv.Itoa(GetTemp("p"))`)
        if reqeq:
            items = [
                it
                for it in items
                if all(
                    it.get(f, "") == str((temp or {}).get(k) or "")
                    for f, k in reqeq
                )
            ]
        # dynamic_kv: zip the joined key/value lists into runtime item
        # columns (UpsertItemField, context.go:246-253 /
        # taobaosearch.go:158-198); empty keys skipped, shortest list
        # bounds (the Go loop), source fields dropped
        if dynkv:
            kf, vf, dsep = dynkv
            for it in items:
                ks = (it.pop(kf, "") or "").split(dsep)
                vs = (it.pop(vf, "") or "").split(dsep)
                for k2, v2 in zip(ks, vs):
                    if k2:
                        it[k2] = v2
        if not _emit:
            # per-ITEM emit marker (see NOEMIT_KEY): this ExtractRule's
            # items drive links/carries/pagination but produce no
            # output rows, even when another ExtractRule sharing the
            # rule name does emit
            for it in items:
                it[NOEMIT_KEY] = "1"
        if outrule:
            # ctx.Parse relabel (context.go:363 SetRuleName): the
            # engine's items union emits these under `outrule`
            for it in items:
                it[OUTRULE_KEY] = outrule
        # temp_fields consumer merge: request temp overrides any
        # same-named extracted field (the reference authors the Output
        # map explicitly, so the collision cannot arise there)
        for f in tfs:
            v = str((temp or {}).get(f) or "")
            for it in items:
                it[f] = v
        # emit=False rules still contribute their items here:
        # dsl_items also feeds PaginateRule counts and conformance —
        # the OUTPUT filter happens at the engine's items-table union
        # (engine.superstep dsl_src, mirroring item_rules), so a
        # ParseFunc with no ctx.Output (baidunews.go:121-136
        # "XML列表页" AddQueues, never Outputs) keeps its links/pages
        row_items.extend(items)
        # per-item then per-field, like the reference's AddQueue inside
        # the selection Each loop
        for it in items:
            # entry 'f' carries as-is; entry (src, dst) renames — the
            # reference's AddQueue-time Temp key choice
            # (baidunews.go:127-133 "releaseTime": v.PubDate)
            carry = (
                {
                    (c if isinstance(c, str) else c[1]): it.get(
                        c if isinstance(c, str) else c[0], ""
                    )
                    for c in carry_fields
                }
                if carry_fields
                else None
            )
            for lf in link_fields:
                v = it.get(lf)
                link = absolutize_safe(base_url, v) if v else None
                if link:
                    row_links.append(link)
                    row_carries.append(carry)
        # cursor pagination (wukongwenda.go:125-141): one follow-up per
        # page — the page URL with the cursor param set to the LAST
        # item's offset field — appended after this rule's link_fields
        # children, gated on the page-level root value when declared
        # (`if more == "true"`). No items → no child (empty
        # questionlist ends the walk).
        if kind == "json" and cursor and items:
            ok = True
            if curreq:
                import json as json_mod

                try:
                    root = json_mod.loads(text)
                except ValueError:
                    root = None
                    ok = False
                if ok:
                    ok = json_path_str(root, curreq[0]) == curreq[1]
            if ok:
                val = items[-1].get(cursor[0], "")
                if val:
                    row_links.append(cursor_url(base_url, cursor[1], val))
                    row_carries.append(None)
    if carry_concat and row_links:
        # within-page carry merge (wangyi.go:74-90 urls_top[url] +=
        # label+":"+rank+","): when one URL is emitted several times on
        # a page, the listed carry keys CONCATENATE across emissions in
        # emission order into the FIRST occurrence's temp (later dups
        # are dropped by the push dedup anyway — this makes the
        # surviving row carry the accumulated value). Page-local, like
        # the reference's per-ParseFunc map; cross-page dups stay
        # first-wins via history dedup.
        first_at: dict[str, int] = {}
        keep_links: list[str] = []
        keep_carries: list[dict | None] = []
        for link, carry in zip(row_links, row_carries):
            if link not in first_at:
                first_at[link] = len(keep_links)
                keep_links.append(link)
                keep_carries.append(dict(carry) if carry else carry)
            else:
                tgt = keep_carries[first_at[link]]
                if carry and tgt is not None:
                    for ck in carry_concat:
                        if ck in carry:
                            tgt[ck] = (tgt.get(ck) or "") + carry[ck]
        row_links, row_carries = keep_links, keep_carries
    return row_items, row_links, row_carries


def parse_pages_kernel(extract_rules=(), carry_concat=()):
    """The page parse: one decoded-body pass per row computing
    out_links + figures + user ExtractRule items + rule-emitted links
    (``link_fields`` — ctx.AddQueue from rule data, avatar.go:95-101),
    appended after anchors + figure srcs in push order (the oracle
    mirrors that order independently). Every fetcher's ``parse_pages``
    runs it: the body store inside the task that read the bytes, so
    html bodies never enter the JVM plan ("parse where you read");
    other fetchers over their attached bodies. Input pdf carries
    ``body``; output drops it and adds the :data:`PARSE_EXTRA_DDL`
    columns.

    Every link leaves the kernel canonical, with its host
    (:func:`keys.canon_host`), so the children phase runs no python
    stage of its own. A malformed link is NULL at its ordinal: the
    link arrays keep their length and ``dsl_carry`` stays aligned with
    ``dsl_links``. The ``carry_concat`` merge runs first, on the
    absolutized strings; its survivors are canonicalized after it."""
    specs = rule_spec_tuples(extract_rules)

    def kernel(grp: pd.DataFrame) -> pd.DataFrame:
        compiled = compile_rule_specs(specs)
        cols = {
            c: []
            for c in (
                "out_links", "out_hosts", "figures", "dsl_items",
                "dsl_links", "dsl_hosts", "dsl_carry",
            )
        }
        temps = (
            grp["temp"]
            if "temp" in grp.columns
            else pd.Series([None] * len(grp))
        )
        for b, ct, u, r, tp in zip(
            grp["body"], grp["content_type"], grp["url"], grp["rule"], temps
        ):
            if b is None:
                for v in cols.values():
                    v.append([])
                continue
            text = decode_body(bytes(b), ct)
            anchors = [
                canon_host(absolutize_safe(u, html_mod.unescape(h)))
                for h in _HREF_RE.findall(text)
            ]
            cols["out_links"].append([c for c, _ in anchors])
            cols["out_hosts"].append([h for _, h in anchors])
            figs = []
            for src, cap in _FIGURE_RE.findall(text):
                src = absolutize_safe(u, html_mod.unescape(src))
                curl, host = canon_host(src)
                figs.append(
                    {
                        "src": src,
                        "caption": html_mod.unescape(cap),
                        "curl": curl,
                        "host": host,
                    }
                )
            cols["figures"].append(figs)
            row_items, row_links, row_carries = _apply_rules_for(
                compiled, text, r, u, tp, carry_concat
            )
            dsl = [canon_host(link) for link in row_links]
            cols["dsl_items"].append(row_items)
            cols["dsl_links"].append([c for c, _ in dsl])
            cols["dsl_hosts"].append([h for _, h in dsl])
            cols["dsl_carry"].append(row_carries)
        out = grp.drop(columns=["body"]).copy()
        for name, v in cols.items():
            out[name] = v
        return out

    return kernel


# The parse kernel's output columns. ``out_links``/``dsl_links`` and
# ``figures.curl`` are canonical URLs (NULL where the link is
# malformed), each with its host in the parallel ``out_hosts``/
# ``dsl_hosts`` entry or ``figures.host``; ``figures.src`` stays the
# absolutized src the items' image_id is read from.
PARSE_EXTRA_DDL = (
    "out_links array<string>, "
    "out_hosts array<string>, "
    "figures array<struct<src:string,caption:string,curl:string,host:string>>, "
    "dsl_items array<map<string,string>>, "
    "dsl_links array<string>, "
    "dsl_hosts array<string>, "
    "dsl_carry array<map<string,string>>"
)
