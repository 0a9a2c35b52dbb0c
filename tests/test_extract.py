"""Extraction helpers: charset generality, HTML cleaning levels,
article heuristic, and the ExtractRule applier (pure-fn level; the
engine-path conformance lives in test_engine_conformance)."""

from pholcus_spark.extract import (
    clean_html,
    decode_body,
    extract_article,
)
from pholcus_spark.spiderspec import ExtractRule

HTML = (
    "<!DOCTYPE html><!-- c --><html><head>"
    "<script>var x=1;</script><style>.a{}</style></head>"
    "<body><p>Hello&nbsp;world</p>  \n\n<div>a much longer article body "
    "with several words of actual content</div></body></html>"
)


def test_clean_html_depths_cumulative():
    assert "<!DOCTYPE" not in clean_html(HTML, 1)
    assert "<!--" in clean_html(HTML, 1)
    assert "<!--" not in clean_html(HTML, 2)
    assert "var x" in clean_html(HTML, 2)
    assert "var x" not in clean_html(HTML, 3)
    assert "<p>" in clean_html(HTML, 3)
    lvl4 = clean_html(HTML, 4)
    assert "<" not in lvl4 and "Hello\xa0world" in lvl4
    lvl5 = clean_html(HTML, 5)
    assert "  " not in lvl5 and lvl5.startswith("Hello")


def test_extract_article_longest_block():
    art = extract_article(HTML)
    assert art.startswith("a much longer article")


def test_decode_body_charset_generality():
    # any Python-known charset from the Content-Type header works —
    # reference handles arbitrary charsets via x/net (context.go:678-736)
    s = "héllo wörld ¿qué?"
    assert decode_body(s.encode("latin-1"), "text/html; charset=latin-1") == s
    sj = "日本語のテキスト"
    assert decode_body(sj.encode("shift_jis"), "text/html; charset=shift_jis") == sj
    assert decode_body("中文".encode("gbk"), "text/html; charset=gbk") == "中文"
    # unknown charset falls back to utf-8
    assert decode_body("abc".encode(), "text/html; charset=bogus-charset") == "abc"


def test_decode_body_bom_and_meta_sniff():
    s = "héllo wörld"
    # BOM wins over everything (utf-8-sig / utf-16 LE+BE)
    assert decode_body(b"\xef\xbb\xbf" + s.encode("utf-8"), None) == s
    assert decode_body(s.encode("utf-16"), "text/html") == s
    assert decode_body(b"\xfe\xff" + s.encode("utf-16-be"), None) == s
    # header absent -> <meta charset> sniff in the first 1 KiB
    page = ('<html><head><meta charset="big5"></head><body>繁體中文</body>').encode(
        "big5"
    )
    assert "繁體中文" in decode_body(page, "text/html")
    # http-equiv form
    page2 = (
        '<html><head><meta http-equiv="Content-Type" '
        'content="text/html; charset=euc-kr"></head><body>한국어</body>'
    ).encode("euc-kr")
    assert "한국어" in decode_body(page2, None)
    # header (when present) beats the meta tag
    page3 = '<meta charset="latin-1">中文'.encode("utf-8")
    assert "中文" in decode_body(page3, "text/html; charset=utf-8")


def test_extract_rule_pure_applier():
    er = ExtractRule(
        rule="list",
        item_pattern=r'<a href="(?P<href>[^"]*)">(?P<t>[^<]*)</a>',
        fields=("href", "t"),
    )
    from pholcus_spark.oracle import _extract_items

    page = {
        "content_type": "text/html; charset=utf-8",
        "body": b'<a href="/p/1">one &amp; two</a><a href="/p/2">three</a>',
    }
    items = _extract_items(page, er)
    assert items == [
        {"href": "/p/1", "t": "one & two"},
        {"href": "/p/2", "t": "three"},
    ]


def test_clean_html_depth_chain(spark):
    """functions/html_clean vs the reference CleanHtml chain
    (common.go:18-41): depth levels accumulate, and the (?i) JVM chain
    matches the lowercase-tags + case-sensitive reference composition."""
    import pandas as pd
    from pyspark.sql import functions as F

    from pholcus_spark.functions.html_clean import (
        clean_html,
        deprive,
        deprive2,
        lowercase_tags_udf,
    )

    raw = (
        '<DIV id="x">keep-A<SCRIPT>drop_js()</SCRIPT>'
        "<Style>.drop_css{}</Style><P>keep-B</P>   tail</DIV>"
    )
    df = spark.createDataFrame([(raw,)], "html string")
    out = df.select(
        clean_html("html", 5).alias("c5"),
        clean_html("html", 3).alias("c3"),
        deprive(F.lit("a b\tc\nd")).alias("d1"),
        deprive2(F.lit(r"a\nb c\td")).alias("d2"),
        clean_html(lowercase_tags_udf("html"), 5).alias("c5_lower"),
    ).first()
    assert out.c5 == "\nkeep-A\nkeep-B\ntail\n"
    assert "drop_js" not in out.c3 and ".drop_css" not in out.c3
    assert "<DIV" in out.c3  # depth 3 keeps tags
    assert out.d1 == "abcd"
    assert out.d2 == "abcd"
    # reference composition (tags lowercased first) yields same text
    assert out.c5_lower == out.c5


def test_require_fields_guard_engine_and_oracle():
    """require_fields (baidusearch.go:46-48 skip-before-Output): empty
    required field drops the ITEM — no output, no link_fields child —
    in BOTH interpreters; evaluated after transforms (a trim that
    empties a field kills the item)."""
    from pholcus_spark.extract import (
        _apply_rules_for,
        compile_rules,
    )
    from pholcus_spark.oracle import _extract_items
    from pholcus_spark.spiderspec import ExtractRule

    html = (
        "<html><body>"
        '<div class="r"><a href="http://x.test/1">ok</a></div>'
        '<div class="r"><a href="http://x.test/2">   </a></div>'
        '<div class="r"><a>nohref</a></div>'
        "</body></html>"
    )
    er = ExtractRule(
        rule="r",
        kind="css",
        item_pattern="div.r",
        fields=("t", "u"),
        field_css=(("t", "a@text"), ("u", "a@href")),
        field_transforms=(("t", (("trim",),)),),
        link_fields=("u",),
        require_fields=("t", "u"),
    )
    compiled = compile_rules([er])
    items, links, _c = _apply_rules_for(compiled, html, "r", "http://b.test/")
    assert items == [{"t": "ok", "u": "http://x.test/1"}]
    assert links == ["http://x.test/1"]
    page = {"body": html.encode(), "content_type": "text/html; charset=utf-8"}
    assert _extract_items(page, er) == items


def test_per_extract_rule_emit_marker():
    """emit=False tags items with NOEMIT_KEY so an emitting and a
    non-emitting ExtractRule can share one rule name; explicit fields
    (links/carries) never see the marker."""
    from pholcus_spark.extract import (
        NOEMIT_KEY,
        _apply_rules_for,
        compile_rules,
    )
    from pholcus_spark.spiderspec import ExtractRule

    html = '<html><body><a class="n" href="/p2">next</a></body></html>'
    probe = ExtractRule(
        rule="r", kind="css", item_pattern="body", fields=("next",),
        field_css=(("next", "a.n@last@href"),), link_fields=("next",),
        require_fields=("next",), emit=False,
    )
    compiled = compile_rules([probe])
    items, links, carries = _apply_rules_for(
        compiled, html, "r", "http://h.test/p1"
    )
    assert items == [{"next": "/p2", NOEMIT_KEY: "1"}]
    assert links == ["http://h.test/p2"]
    # absent next → require_fields drops the probe item: no child
    items2, links2, _ = _apply_rules_for(
        compiled, "<html><body>last page</body></html>", "r", "http://h.test/p3"
    )
    assert items2 == [] and links2 == []


def test_json_field_json_nested_paths():
    """field_json nested dot-paths (gjson.Get, wukongwenda.go:113-119):
    missing path → '', non-string leaves stringified like gjson."""
    from pholcus_spark.extract import compile_rules
    from pholcus_spark.extract import apply_rule_spec
    from pholcus_spark.spiderspec import ExtractRule

    er = ExtractRule(
        rule="r", kind="json", item_pattern="data",
        fields=("t", "n", "deep", "missing"),
        field_json=(("t", "q.title"), ("n", "q.num"),
                    ("deep", "a.b.c"), ("missing", "q.nope.x")),
    )
    (rule,) = compile_rules([er])
    text = (
        '{"data": [{"q": {"title": "T1", "num": 7},'
        ' "a": {"b": {"c": true}}}]}'
    )
    (item,) = apply_rule_spec(text, er.kind, rule.key, er.fields, er.field_json)
    assert item == {"t": "T1", "n": "7", "deep": "true", "missing": ""}


def test_cursor_url_strip_and_append():
    from pholcus_spark.extract import cursor_url

    # no existing param
    assert cursor_url("http://h/a?x=1", "c", "9") == "http://h/a?x=1&c=9"
    # bare path
    assert cursor_url("http://h/a", "c", "9") == "http://h/a?c=9"
    # existing param at the tail (the wukongwenda re-walk)
    assert cursor_url("http://h/a?x=1&c=5", "c", "9") == "http://h/a?x=1&c=9"
    # existing param first
    assert cursor_url("http://h/a?c=5&x=1", "c", "9") == "http://h/a?x=1&c=9"
    # existing param in the middle
    assert (
        cursor_url("http://h/a?x=1&c=5&y=2", "c", "9")
        == "http://h/a?x=1&y=2&c=9"
    )
    # value gets percent-encoded
    assert cursor_url("http://h/a", "c", "a b") == "http://h/a?c=a%20b"
    # ADJACENT duplicates: the single-pass sub consumed the separator
    # of the next occurrence and left a stale cursor ahead of the new
    # one (servers reading the first occurrence looped on one page)
    assert cursor_url("http://h/a?c=1&c=2", "c", "9") == "http://h/a?c=9"
    assert (
        cursor_url("http://h/a?c=1&c=2&x=1&c=3", "c", "9")
        == "http://h/a?x=1&c=9"
    )


def test_cursor_url_twins_agree_on_canonical_form():
    """Engine string-surgery vs oracle parse_qsl rebuild: different
    algorithms, same canonical URL on the fixture-realistic shapes."""
    from pholcus_spark.extract import cursor_url
    from pholcus_spark.keys import canonicalize_url
    from pholcus_spark.oracle import _cursor_next

    for base in (
        "http://h/api?concern_id=63&t=17",
        "http://h/api?concern_id=63&max_behot_time=5&t=17",
        "http://h/api?max_behot_time=5",
        "http://h/api",
    ):
        a = canonicalize_url(cursor_url(base, "max_behot_time", "99"))
        b = canonicalize_url(_cursor_next(base, "max_behot_time", "99"))
        assert a == b, (base, a, b)


def test_cursor_emits_follow_up_with_gate():
    """_apply_rules_for: cursor link appended after link_fields, only
    while the root gate holds, keyed by the LAST item's field."""
    from pholcus_spark.extract import (
        _apply_rules_for,
        compile_rules,
    )
    from pholcus_spark.spiderspec import ExtractRule

    er = ExtractRule(
        rule="r", kind="json", item_pattern="data", fields=("off",),
        field_json=(("off", "bt"),),
        cursor=("off", "cur"), cursor_require=("more", "true"),
        emit=False,
    )
    compiled = compile_rules([er])
    more = '{"more": true, "data": [{"bt": 3}, {"bt": 8}]}'
    items, links, carries = _apply_rules_for(
        compiled, more, "r", "http://h/api?x=1"
    )
    assert links == ["http://h/api?x=1&cur=8"]  # LAST item's bt
    assert carries == [None]
    done = '{"more": false, "data": [{"bt": 3}]}'
    _, links2, _ = _apply_rules_for(compiled, done, "r", "http://h/api?x=1")
    assert links2 == []
    empty = '{"more": true, "data": []}'
    _, links3, _ = _apply_rules_for(compiled, empty, "r", "http://h/api?x=1")
    assert links3 == []


def test_forbid_fields_guard_engine_and_oracle():
    """forbid_fields (wangyi.go:119-128 full-text redirect branch /
    alibaba.go:63-75 pagination fallback): a NON-empty listed field
    drops the item in BOTH interpreters. Paired require/forbid rules
    on one rule name express the whole if/else branch."""
    from pholcus_spark.extract import (
        _apply_rules_for,
        compile_rules,
    )
    from pholcus_spark.oracle import _extract_items
    from pholcus_spark.spiderspec import ExtractRule

    paged = (
        '<html><body><div class="a"><a class="all" href="/full">all'
        "</a><h1>t</h1></div></body></html>"
    )
    plain = '<html><body><div class="a"><h1>t</h1></div></body></html>'
    er_out = ExtractRule(
        rule="r", kind="css", item_pattern="div.a",
        fields=("title", "pageall"),
        field_css=(("title", "h1@text"), ("pageall", "a.all@href")),
        forbid_fields=("pageall",),
    )
    er_probe = ExtractRule(
        rule="r", kind="css", item_pattern="div.a",
        fields=("pageall",), field_css=(("pageall", "a.all@href"),),
        require_fields=("pageall",), emit=False, link_fields=("pageall",),
    )
    compiled = compile_rules([er_out, er_probe])
    items, links, _c = _apply_rules_for(
        compiled, paged, "r", "http://h.test/p"
    )
    # paged variant: output suppressed, full-text link enqueued
    assert [i for i in items if "\x00noemit" not in i] == []
    assert links == ["http://h.test/full"]
    assert _extract_items(
        {"body": paged.encode(), "content_type": "text/html"}, er_out
    ) == []
    # plain variant: output emitted, no link
    items2, links2, _c2 = _apply_rules_for(
        compiled, plain, "r", "http://h.test/p"
    )
    assert [i for i in items2 if "\x00noemit" not in i] == [
        {"title": "t", "pageall": ""}
    ]
    assert links2 == []


def test_require_equals_temp_guard():
    """require_equals (car_home.go:55-57 / ganji_gongsi.go:54-56): the
    extracted current-page marker must equal the carried Temp value or
    the item (and its children) vanish — in BOTH interpreters."""
    from pholcus_spark.extract import (
        _apply_rules_for,
        compile_rules,
    )
    from pholcus_spark.spiderspec import ExtractRule

    html = (
        '<html><body><div class="pages"><span class="cur">3</span>'
        '</div><a class="n" href="/o4">next</a></body></html>'
    )
    er = ExtractRule(
        rule="r", kind="css", item_pattern="body",
        fields=("cur", "nxt"),
        field_css=(("cur", ".pages .cur@text"), ("nxt", "a.n@href")),
        require_equals=(("cur", "p"),),
        link_fields=("nxt",), emit=False,
    )
    compiled = compile_rules([er])
    _i, links, _c = _apply_rules_for(
        compiled, html, "r", "http://h.test/o3", temp={"p": "3"}
    )
    assert links == ["http://h.test/o4"]  # marker matches carried p
    _i2, links2, _c2 = _apply_rules_for(
        compiled, html, "r", "http://h.test/o9", temp={"p": "9"}
    )
    assert links2 == []  # redirected to an existing page: walk stops
    _i3, links3, _c3 = _apply_rules_for(
        compiled, html, "r", "http://h.test/o3", temp=None
    )
    assert links3 == []  # no temp at all → "" != "3"


def test_require_equals_with_dynamic_kv_order_parity():
    """require_equals must run BEFORE dynamic_kv in BOTH interpreters:
    the guard reads the raw zipped blob field that dynamic_kv pops. The
    oracle used to apply the guard after dynamic_kv (at its call
    sites), silently diverging from the engine the first time a rule
    combined the two features."""
    from pholcus_spark.extract import (
        _apply_rules_for,
        compile_rules,
    )
    from pholcus_spark.oracle import _extract_items
    from pholcus_spark.spiderspec import ExtractRule

    html = (
        '<html><body><div class="a"><span class="ks">k1|k2</span>'
        '<span class="vs">v1|v2</span></div></body></html>'
    )
    er = ExtractRule(
        rule="r", kind="css", item_pattern="div.a",
        fields=("_ks", "_vs"),
        field_css=(("_ks", ".ks@text"), ("_vs", ".vs@text")),
        require_equals=(("_ks", "want"),),
        dynamic_kv=("_ks", "_vs", "|"),
    )
    compiled = compile_rules([er])
    for temp, n_expected in [
        ({"want": "k1|k2"}, 1),  # guard sees the raw blob → passes
        ({"want": "nope"}, 0),   # mismatch → item vanishes
        (None, 0),
    ]:
        items, _l, _c = _apply_rules_for(
            compiled, html, "r", "http://h.test/p", temp=temp
        )
        got_engine = [
            {k: v for k, v in i.items() if not k.startswith("\x00")}
            for i in items
        ]
        got_oracle = _extract_items(
            {"body": html.encode(), "content_type": "text/html"},
            er,
            temp,
        )
        assert got_engine == got_oracle, (temp, got_engine, got_oracle)
        assert len(got_engine) == n_expected
        if n_expected:
            # the blob fields were popped and zipped into runtime cols
            assert got_engine[0] == {"k1": "v1", "k2": "v2"}


def test_oracle_charset_parity_with_engine():
    """The oracle's body decode follows the same resolution ladder as
    the engine's sniff_charset: BOM > Content-Type param (quoted or
    bare) > <meta charset> in the first 1 KiB > utf-8. A BOM'd or
    meta-declared page must extract identically through both."""
    from pholcus_spark.extract import (
        _apply_rules_for,
        compile_rules,
    )
    from pholcus_spark.oracle import _extract_items
    from pholcus_spark.spiderspec import ExtractRule

    er = ExtractRule(
        rule="r", kind="css", item_pattern="body",
        fields=("t",), field_css=(("t", "h1@text"),),
    )
    compiled = compile_rules([er])
    plain = "<html><body><h1>标题x</h1></body></html>"
    cases = [
        # UTF-8 BOM, bare content type (BOM must be stripped, not
        # decoded as U+FEFF)
        (b"\xef\xbb\xbf" + plain.encode("utf-8"), "text/html"),
        # charset only in <meta>, gbk body
        (
            ('<html><head><meta charset="gbk"></head>'
             "<body><h1>标题x</h1></body></html>").encode("gb18030"),
            "text/html",
        ),
        # QUOTED charset param in the header
        (plain.encode("gb18030"), 'text/html; charset="gbk"'),
    ]
    for body, ct in cases:
        from pholcus_spark.extract import decode_body

        text = decode_body(body, ct)
        items, _l, _c = _apply_rules_for(
            compiled, text, "r", "http://h.test/p"
        )
        got_engine = [
            {k: v for k, v in i.items() if not k.startswith("\x00")}
            for i in items
        ]
        got_oracle = _extract_items({"body": body, "content_type": ct}, er)
        assert got_engine == got_oracle == [{"t": "标题x"}], (ct, got_oracle)


def test_item_slice_ordinal_gates():
    """item_slice — the Each-loop ordinal gates: kaola.go:49-50 skips
    i==0, IJGUC.go:75 keeps k%2==0; applied to RAW match ordinals
    before transforms/guards, in BOTH interpreters."""
    from pholcus_spark.extract import (
        _apply_rules_for,
        compile_rules,
    )
    from pholcus_spark.oracle import _extract_items
    from pholcus_spark.spiderspec import ExtractRule

    html = "<html><body>" + "".join(
        f'<li><a href="/d{i}">t{i}</a></li>' for i in range(6)
    ) + "</body></html>"
    for islice, want in [
        ((1,), ["t1", "t2", "t3", "t4", "t5"]),
        ((0, None, 2), ["t0", "t2", "t4"]),
        ((2, 4), ["t2", "t3"]),
    ]:
        er = ExtractRule(
            rule="r", kind="css", item_pattern="li",
            fields=("t",), field_css=(("t", "a@text"),),
            item_slice=islice,
        )
        compiled = compile_rules([er])
        items, _l, _c = _apply_rules_for(compiled, html, "r", "http://b/")
        assert [i["t"] for i in items] == want, islice
        page = {"body": html.encode(), "content_type": "text/html"}
        assert _extract_items(page, er) == items, islice


def test_numeric_and_regex_transforms_twins_agree():
    """int_add / ceil_div (Go strconv.Atoi err→0 semantics),
    regex_find, default, prefix/suffix — engine-compiled closures vs
    the oracle's op-tuple interpreter on the same inputs."""
    from pholcus_spark.extract import compile_transforms
    from pholcus_spark.oracle import _oracle_transform_value

    cases = [
        ((("regex_find", r"[\d]+$"),), "of 99", "99"),
        ((("regex_find", r"T:(.*?)A:", 1),), "T: x A:", " x "),
        ((("regex_find", r"zzz"),), "abc", ""),
        ((("default", "未知"),), "", "未知"),
        ((("prefix", "http:"), ("suffix", "#c")), "//a/b", "http://a/b#c"),
        ((("int_add", 1),), "7", "8"),
        ((("int_add", 1),), "x7", "1"),       # Atoi err → 0
        ((("int_add", 0),), " 5", "0"),       # Go: no whitespace
        ((("int_add", 0),), "1_0", "0"),      # Go: no underscores
        ((("int_add", -4), ("ceil_div", 44)), "48", "1"),
        ((("int_add", -4), ("ceil_div", 44)), "49", "2"),
        ((("ceil_div", 10),), "junk", "0"),
    ]
    for ops, v, want in cases:
        eng = compile_transforms((("f", ops),))["f"](v)
        orc = _oracle_transform_value(v, ops)
        assert eng == orc == want, (ops, v, eng, orc)


def test_json_numeric_array_indices():
    """gjson-style numeric LIST ordinals in json paths (a.0.b) — the
    hollandandbarrett.go:128 contents[0].mainContent[0].records
    nesting — in the item path AND per-field field_json paths, both
    interpreters; out-of-range → no items / ''."""
    import json

    from pholcus_spark.extract import (
        _apply_rules_for,
        compile_rules,
    )
    from pholcus_spark.oracle import _extract_items
    from pholcus_spark.spiderspec import ExtractRule

    doc = json.dumps(
        {
            "contents": [
                {
                    "mainContent": [
                        {
                            "records": [
                                {"records": [{"attributes": {"Name": "a",
                                              "lp": ["1"]}}]},
                                {"records": [{"attributes": {"Name": "b"}}]},
                            ]
                        }
                    ]
                }
            ]
        }
    )
    er = ExtractRule(
        rule="r", kind="json",
        item_pattern="contents.0.mainContent.0.records",
        fields=("name", "lp", "miss"),
        field_json=(
            ("name", "records.0.attributes.Name"),
            ("lp", "records.0.attributes.lp.0"),
            ("miss", "records.9.attributes.Name"),
        ),
    )
    compiled = compile_rules([er])
    items, _l, _c = _apply_rules_for(compiled, doc, "r", "http://b/")
    assert items == [
        {"name": "a", "lp": "1", "miss": ""},
        {"name": "b", "lp": "", "miss": ""},
    ]
    page = {"body": doc.encode(), "content_type": "application/json"}
    assert _extract_items(page, er) == items
    # out-of-range item path → no items
    er2 = ExtractRule(
        rule="r", kind="json", item_pattern="contents.7.mainContent",
        fields=("x",),
    )
    compiled2 = compile_rules([er2])
    items2, _l2, _c2 = _apply_rules_for(compiled2, doc, "r", "http://b/")
    assert items2 == []
    assert _extract_items(page, er2) == []


def test_const_fields_literals():
    """const_fields (area_codes.go:91-96 Output literals): constant
    columns on every item, set before transforms, both interpreters."""
    from pholcus_spark.extract import (
        _apply_rules_for,
        compile_rules,
    )
    from pholcus_spark.oracle import _extract_items
    from pholcus_spark.spiderspec import ExtractRule

    html = '<html><body><li><a href="/d1">n1</a></li></body></html>'
    er = ExtractRule(
        rule="r", kind="css", item_pattern="li",
        fields=("名称", "级别", "上级"),
        field_css=(("名称", "a@text"),),
        const_fields=(("级别", "0"), ("上级", "0")),
    )
    compiled = compile_rules([er])
    items, _l, _c = _apply_rules_for(compiled, html, "r", "http://b/")
    assert items == [{"名称": "n1", "级别": "0", "上级": "0"}]
    page = {"body": html.encode(), "content_type": "text/html"}
    assert _extract_items(page, er) == items


def test_parse_kernel_emits_canonical_links(spark):
    """The parse kernel hands every link to the children phase already
    canonical, with its host: a relative href comes out canonical and
    absolute, with the (curl, host) pair canon_host_udf gives for it; a
    malformed href is NULL at its ordinal; dsl_links, dsl_hosts and
    dsl_carry keep one length; and the carry_concat merge still runs on
    the absolutized strings, before canonicalization. An href urljoin
    cannot parse is NULL too among the anchors, and drops (with its
    carry) among the rule-emitted links, instead of failing the
    parse."""
    import pandas as pd

    from pholcus_spark.extract import parse_pages_kernel
    from pholcus_spark.keys import canon_host_udf
    from pholcus_spark.session import local_frame

    html = (
        '<html><body><a href="/rel/p?b=2&amp;a=1#frag">r</a>'
        '<a href="http://h:99999/x">bad</a>'
        '<a href="http://[bad/x">unparseable</a>'
        '<a href="HTTP://Other.TEST:80/Up">up</a>'
        '<figure><img src="/img/a.png"> <p class="caption">cap</p></figure>'
        '<div class="r"><i>/d?y=2&x=1</i><b>L1</b></div>'
        '<div class="r"><i>http://h:99999/d</i><b>L2</b></div>'
        '<div class="r"><i>http://[bad/d</i><b>Lx</b></div>'
        '<div class="r"><i>/d?y=2&x=1</i><b>L3</b></div>'
        '<div class="r"><i>/d?x=1&y=2</i><b>L4</b></div>'
        "</body></html>"
    )
    er = ExtractRule(
        rule="list",
        item_pattern=r'<div class="r"><i>(?P<u>[^<]*)</i><b>(?P<lab>[^<]*)</b></div>',
        fields=("u", "lab"),
        link_fields=("u",),
        carry_fields=("lab",),
    )
    kernel = parse_pages_kernel([er], carry_concat=("lab",))
    out = kernel(
        pd.DataFrame(
            {
                "body": [html.encode()],
                "content_type": ["text/html; charset=utf-8"],
                "url": ["http://h.test/dir/page"],
                "rule": ["list"],
            }
        )
    ).iloc[0]
    assert list(out["out_links"]) == [
        "http://h.test/rel/p?a=1&b=2", None, None, "http://other.test/Up",
    ]
    assert list(out["out_hosts"]) == ["h.test", None, None, "other.test"]
    assert out["figures"] == [
        {
            "src": "http://h.test/img/a.png", "caption": "cap",
            "curl": "http://h.test/img/a.png", "host": "h.test",
        }
    ]
    # the pair the JVM-side canonicalize gives for the absolutized hrefs
    raw = [
        "http://h.test/rel/p?b=2&a=1#frag", "http://h:99999/x",
        "HTTP://Other.TEST:80/Up",
    ]
    udf = local_frame(spark, [(i, u) for i, u in enumerate(raw)], "i int, u string")
    got = udf.select("i", canon_host_udf("u").alias("ch")).orderBy("i").collect()
    pairs = list(zip(out["out_links"], out["out_hosts"]))
    assert [(r.ch.curl, r.ch.host) for r in got] == pairs[:2] + pairs[3:]
    # merge on the absolutized strings: the two spellings of /d stay
    # two entries (they meet later, in the engine's last-wins carry
    # window); the repeated spelling concatenates into its first one
    assert list(out["dsl_links"]) == [
        "http://h.test/d?x=1&y=2", None, "http://h.test/d?x=1&y=2",
    ]
    assert list(out["dsl_hosts"]) == ["h.test", None, "h.test"]
    assert list(out["dsl_carry"]) == [
        {"lab": "L1L3"}, {"lab": "L2"}, {"lab": "L4"},
    ]
