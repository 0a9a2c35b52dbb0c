"""CSS-selector engine tests: unit coverage of the goquery-subset
semantics (css.py) plus a hypothesis fuzz that cross-checks the
engine's tree-based matcher against the oracle's independent
single-pass SAX matcher on randomized documents and selectors.

Reference surface: goquery Find/Attr/Text
(`common/goquery/traversal.go:23-402`, `property.go`), consumed by e.g.
`sample/static_rules/qq_avatar/avatar.go:92-93`.
"""

from __future__ import annotations

import pytest
from hypothesis import given, settings, strategies as st

from pholcus_spark.css import (
    compile_selector,
    node_attr,
    node_text,
    parse_html,
    select,
)
from pholcus_spark.extract import (
    apply_rule_spec,
    compile_rules,
)
from pholcus_spark.oracle import _css_items, _oracle_parse_field_spec
from pholcus_spark.spiderspec import ExtractRule

DOC = """<html><head><title>t</title></head><body>
<div id="dv_an"><span><img src="a.png"></span>
<span class="x y"><img src="b.png" alt="B"></span></div>
<figure><img src="i1.jpg"><p class="caption">cap &amp; one</p></figure>
<figure><img src="i2.jpg"><p class="caption">cap<b> two</b></p></figure>
<figure><p class="caption">no img</p></figure>
<ul><li class="item" data-k="v1">one <b>bold</b></li>
<li class="item">two</li></ul>
<div class="outer"><div class="inner"><em>deep</em></div></div>
</body></html>"""


@pytest.fixture(scope="module")
def root():
    return parse_html(DOC)


def test_id_descendant(root):
    # the avatar.go:92-93 selector shape
    assert [node_attr(n, "src") for n in select(root, "#dv_an span img")] == [
        "a.png",
        "b.png",
    ]


def test_child_combinator(root):
    assert [node_attr(n, "src") for n in select(root, "figure > img")] == [
        "i1.jpg",
        "i2.jpg",
    ]
    # img is not a CHILD of body
    assert select(root, "body > img") == []


def test_class_and_multi_class(root):
    assert len(select(root, ".item")) == 2
    assert [node_attr(n, "src") for n in select(root, "span.x.y img")] == ["b.png"]
    assert select(root, "span.x.z") == []


def test_attr_selectors(root):
    assert [node_text(n) for n in select(root, "li[data-k]")] == ["one bold"]
    assert [node_text(n) for n in select(root, 'li[data-k="v1"]')] == ["one bold"]
    assert select(root, "li[data-k=zzz]") == []


def test_text_concatenates_descendants(root):
    caps = [node_text(n) for n in select(root, "p.caption")]
    assert caps == ["cap & one", "cap two", "no img"]


def test_group_union_document_order(root):
    srcs = [node_attr(n, "src") for n in select(root, "span.x.y img, figure img")]
    assert srcs == ["b.png", "i1.jpg", "i2.jpg"]


def test_find_is_strict_descendant(root):
    outer = select(root, "div.outer")[0]
    # Find from a context node only yields strict descendants
    assert [n.tag for n in select(outer, "div")] == ["div"]
    assert [node_text(n) for n in select(outer, "em")] == ["deep"]
    # cascadia semantics: ancestor steps may match ABOVE the context
    inner = select(root, "div.inner")[0]
    assert [node_text(n) for n in select(inner, "div.outer em")] == ["deep"]


def test_malformed_html_tolerated():
    r = parse_html("<div><p>one<p>two</i><img src=x.png></div></b><span>tail")
    assert [node_attr(n, "src") for n in select(r, "img")] == ["x.png"]
    assert node_text(select(r, "span")[0]) == "tail"


def test_invalid_selector_raises():
    with pytest.raises(ValueError):
        compile_selector("a:last-child")  # not start-tag-decidable
    with pytest.raises(ValueError):
        compile_selector("p:nth-child")  # missing argument
    with pytest.raises(ValueError):
        compile_selector("div >")
    with pytest.raises(ValueError):
        compile_selector("")


def test_pseudo_classes(root):
    # the two reference selectors that need pseudo-classes
    # (jd.go / alibaba.go shapes)
    assert [node_text(n) for n in select(root, "ul > li:nth-child(2)")] == [
        "two"
    ]
    assert [node_text(n) for n in select(root, "ul li:first-child")] == [
        "one bold"
    ]
    # figures are body's element children 2..4; nth-child counts ALL
    # element siblings, not same-tag ones
    assert [
        node_attr(n, "src") for n in select(root, "figure:nth-child(3) img")
    ] == ["i2.jpg"]
    assert select(root, "figure:nth-child(5)") == []


def test_parse_field_spec_grammar():
    from pholcus_spark.extract import parse_field_spec

    assert parse_field_spec("span.head@text") == ([("span.head", 0)], "text")
    assert parse_field_spec("@data-n") == ([], "data-n")
    assert parse_field_spec("img@eq(2)@src") == ([("img", 2)], "src")
    assert parse_field_spec("b@last@text") == ([("b", -1)], "text")
    assert parse_field_spec("b@last") == ([("b", -1)], "text")
    assert parse_field_spec(".articleContent@html") == (
        [(".articleContent", 0)],
        "html",
    )
    assert parse_field_spec("@html") == ([], "html")
    # the shunfenghaitao.go:98 chain shape
    assert parse_field_spec(".goods-c2 ul@eq(0) li@eq(2)@text") == (
        [(".goods-c2 ul", 0), ("li", 2)],
        "text",
    )
    with pytest.raises(ValueError):
        parse_field_spec("a@href b@text")  # projection must be final


def test_indexed_projection_engine_equals_oracle():
    """`.Eq(n)`/`.Last()` chains — 53 .Eq( + 5 .Last( uses in the
    reference rules (shunfenghaitao.go:98,103, car_home.go:105-139)."""
    html = """<html><body><div class="doc">
    <div class="goods-c2"><ul><li>a0</li><li>a1</li><li>a2 <b>x</b></li></ul>
    <ul><li>b0</li></ul></div>
    <div id="detailattributes"><li>origin</li><li>supply</li></div>
    <span class="head"><b>w1</b><b>w2</b><b>w3</b></span>
    <img src="i1.png"><img src="i2.png">
    </div></body></html>"""
    cases = [
        (".goods-c2 ul@eq(0) li@eq(2)@text", "a2 x"),
        (".goods-c2 ul@eq(1) li@eq(0)@text", "b0"),
        ("#detailattributes li@eq(0)@text", "origin"),
        ("#detailattributes li@eq(1)@text", "supply"),
        ("#detailattributes li@eq(5)@text", ""),  # out of range -> ''
        ("b@last@text", "w3"),
        ("span.head@eq(0) b@last@text", "w3"),
        ("img@last@src", "i2.png"),
        ("img@eq(1)@src", "i2.png"),
        ("ul@last li@eq(0)@text", "b0"),
    ]
    for spec, want in cases:
        er = ExtractRule(
            rule="r", kind="css", item_pattern="div.doc",
            fields=("f",), field_css=(("f", spec),),
        )
        got = _apply_engine(html, er)
        assert got == _css_items(html, er), spec
        assert got[0]["f"] == want, spec


def test_negative_eq_engine_equals_oracle():
    """`@eq(-n)` — goquery `Eq(-n)` counts from the end; the reference's
    pagination idiom `urls.Eq(urls.Length() - 2)` (miyabaobei.go:90) is
    `@eq(-2)`. Streaming oracle keeps a bounded last-n candidate ring."""
    html = """<html><body><div class="pager">
    <a href="/p1">1</a><a href="/p2">2</a><a href="/p3">3</a>
    <a href="/p17">17</a><a href="/next">next</a>
    <span class="head"><b>w1</b><b>w2 <i>deep</i></b><b>w3</b></span>
    <img src="i1.png"><img src="i2.png"><img src="i3.png">
    </div></body></html>"""
    cases = [
        # miyabaobei.go:90: total page count = second-to-last pager link
        ("a@eq(-2)@text", "17"),
        ("a@eq(-2)@href", "/p17"),
        ("a@eq(-5)@text", "1"),  # exactly-n edge: oldest retained
        ("a@eq(-6)@text", ""),   # fewer than n matches -> ''
        ("a@eq(-1)@text", "next"),  # @eq(-1) == @last
        ("b@eq(-2)@text", "w2 deep"),  # text spans nested elements
        ("b@eq(-2)@html", "w2 <i>deep</i>"),  # html candidate buffer
        ("img@eq(-3)@src", "i1.png"),
        ("span.head@eq(0) b@eq(-2)@text", "w2 deep"),  # chained final
        ("span.head@last b@eq(-1)@text", "w3"),
    ]
    for spec, want in cases:
        er = ExtractRule(
            rule="r", kind="css", item_pattern="div.pager",
            fields=("f",), field_css=(("f", spec),),
        )
        got = _apply_engine(html, er)
        assert got == _css_items(html, er), spec
        assert got[0]["f"] == want, spec
    # non-final negative eq rejected symmetrically by both parsers
    from pholcus_spark.extract import parse_field_spec

    for bad in ("a@eq(-2) b@text", "div@eq(-3) span@last@text"):
        with pytest.raises(ValueError):
            parse_field_spec(bad)
        with pytest.raises(ValueError):
            _oracle_parse_field_spec(bad)


def test_count_projection_engine_equals_oracle():
    """`@count` — goquery `.Length()` (miyabaobei.go:88 pagination:
    `urls.Length()` gates the totalPage pull). Decimal-string count of
    the final bare segment's full match set."""
    html = """<html><body><div class="pager">
    <a href="/p1">1</a><a href="/p2">2</a><a href="/p3">3</a>
    <span class="head"><b>w1</b><b>w2</b></span>
    <span class="tail"><b>z</b></span>
    </div></body></html>"""
    cases = [
        ("a@count", "3"),
        ("b@count", "3"),                      # across both spans
        ("span.head@eq(0) b@count", "2"),      # chained: scoped count
        ("span@last b@count", "1"),            # @last re-anchor resets
        ("span.missing@count", "0"),
        ("span.missing@eq(0) b@count", "0"),   # empty upstream -> 0
        ("div@count", "0"),                    # no div INSIDE container
    ]
    for spec, want in cases:
        er = ExtractRule(
            rule="r", kind="css", item_pattern="div.pager",
            fields=("f",), field_css=(("f", spec),),
        )
        got = _apply_engine(html, er)
        assert got == _css_items(html, er), spec
        assert got[0]["f"] == want, spec
    # @count needs a bare counted segment — both parsers reject
    from pholcus_spark.extract import parse_field_spec

    for bad in ("@count", "a@eq(2)@count", "a@last@count"):
        with pytest.raises(ValueError):
            parse_field_spec(bad)
        with pytest.raises(ValueError):
            _oracle_parse_field_spec(bad)


def test_negative_eq_nested_matches_seal_independently():
    """Nested elements matching the same selector hold simultaneously
    live candidate buffers, each sealed at its own depth."""
    html = ('<div class="c"><div class="x">outer <div class="x">inner'
            "</div> tail</div><div class=\"x\">final</div></div>")
    for spec, want in [
        ("div.x@eq(-3)@text", "outer inner tail"),
        ("div.x@eq(-2)@text", "inner"),
        ("div.x@eq(-1)@text", "final"),
        ("div.x@eq(-3)@html", 'outer <div class="x">inner</div> tail'),
    ]:
        er = ExtractRule(
            rule="r", kind="css", item_pattern="div.c",
            fields=("f",), field_css=(("f", spec),),
        )
        got = _apply_engine(html, er)
        assert got == _css_items(html, er), spec
        assert got[0]["f"] == want, spec


def test_html_projection_engine_equals_oracle():
    """`@html` — goquery `.Html()`, 7 uses in the reference rules
    (jiban.go:104, zhihu_daily.go:108, taobaosearch.go:152,
    zhihu_bianji.go:163,184,187, baidunews.go:203). Both engines must
    emit the SAME canonical serialization, including implied closes on
    tag soup and at EOF."""
    cases = [
        # (html, container, spec, expected)
        (
            '<div class="c"><p>Hello <b>world</b></p><img src="x.png">t</div>',
            "div.c", "@html",
            '<p>Hello <b>world</b></p><img src="x.png"/>t',
        ),
        (  # jiban.go:104 shape: Find(".articleContent").Html()
            '<div class="c"><div class="articleContent"><p>a</p><p>b</p>'
            "</div></div>",
            "div.c", ".articleContent@html",
            "<p>a</p><p>b</p>",
        ),
        (  # tag soup: implied closes where the parser stack pops
            '<div class="c"><ul><li>1<li>2</ul></div>',
            "div.c", "ul@eq(0)@html",
            "<li>1<li>2</li></li>",
        ),
        (  # entity round-trip: parsed then re-escaped
            '<div class="c"><span>x &amp; y &lt; z</span></div>',
            "div.c", "span@html",
            "x &amp; y &lt; z",
        ),
        (  # EOF with unclosed elements
            '<div class="c"><p>open<b>never closed',
            "div.c", "p@html",
            "open<b>never closed</b>",
        ),
        (  # @last re-anchor discards the earlier buffer
            '<div class="c"><p>one</p><p>two <em>2</em></p></div>',
            "div.c", "p@last@html",
            "two <em>2</em>",
        ),
        (  # void target: no children -> ''
            '<div class="c"><img src="a" alt="x>y"></div>',
            "div.c", "img@eq(0)@html",
            "",
        ),
        (  # attr escaping + first-occurrence-wins + explicit self-close
            '<div class="c"><i/><span a="1" A="2">q</span></div>',
            "div.c", "@html",
            '<i></i><span a="1">q</span>',
        ),
    ]
    for html, cont, spec, want in cases:
        er = ExtractRule(
            rule="r", kind="css", item_pattern=cont,
            fields=("f",), field_css=(("f", spec),),
        )
        got = _apply_engine(html, er)
        assert got == _css_items(html, er), spec
        assert got[0]["f"] == want, spec


def test_children_eq_idiom_engine_equals_oracle():
    """goquery `.Children().Eq(n)` (fang_resell_list.go:106-108) is the
    `"<sel> > *@eq(n)"` spec — all elements whose parent matches sel,
    document order, n-th picked."""
    html = """<html><body><dl class="list"><dd class="info">
    <div class="area"><p>70m</p><span>south</span></div>
    <div class="moreInfo"><b>100w</b><i>1.4w/m</i></div>
    </dd></dl></body></html>"""
    cases = [
        ("dd.info div.area > *@eq(0)@text", "70m"),
        ("dd.info div.moreInfo > *@eq(0)@text", "100w"),
        ("dd.info div.moreInfo > *@eq(1)@text", "1.4w/m"),
        ("dd.info div.moreInfo > *@eq(9)@text", ""),  # out of range
    ]
    for spec, want in cases:
        er = ExtractRule(
            rule="r", kind="css", item_pattern="dl.list",
            fields=("f",), field_css=(("f", spec),),
        )
        got = _apply_engine(html, er)
        assert got == _css_items(html, er), spec
        assert got[0]["f"] == want, spec


def _apply_engine(html: str, er: ExtractRule) -> list[dict]:
    (rule,) = compile_rules([er])
    return apply_rule_spec(html, er.kind, rule.key, er.fields)


def test_engine_equals_oracle_on_fixture_shapes():
    rules = [
        ExtractRule(
            rule="r", kind="css", item_pattern="figure",
            fields=("src", "caption"),
            field_css=(("src", "img@src"), ("caption", "p.caption@text")),
        ),
        ExtractRule(
            rule="r", kind="css", item_pattern="#dv_an span img",
            fields=("src",), field_css=(("src", "@src"),),
        ),
        ExtractRule(
            rule="r", kind="css", item_pattern="li.item",
            fields=("txt", "k"),
            field_css=(("txt", "@text"), ("k", "@data-k")),
        ),
    ]
    for er in rules:
        assert _apply_engine(DOC, er) == _css_items(DOC, er)


# ---------------------------------------------------------------------------
# fuzz: random documents × random selectors, two matchers must agree
# ---------------------------------------------------------------------------

_TAGS = ["div", "span", "p", "li", "em"]
_CLASSES = ["a", "b", "c"]


@st.composite
def _html_doc(draw, depth=0):
    if depth >= 3:
        return draw(st.sampled_from(["leaf", "x &amp; y", ""]))
    n = draw(st.integers(0, 3))
    parts = []
    for _ in range(n):
        if draw(st.booleans()):
            tag = draw(st.sampled_from(_TAGS))
            attrs = ""
            if draw(st.booleans()):
                attrs += f' class="{draw(st.sampled_from(_CLASSES))}"'
            if draw(st.booleans()):
                attrs += f' data-k="{draw(st.sampled_from(["u", "v"]))}"'
            inner = draw(_html_doc(depth=depth + 1))
            parts.append(f"<{tag}{attrs}>{inner}</{tag}>")
        elif draw(st.booleans()):
            parts.append(f'<img src="s{draw(st.integers(0, 3))}.png">')
        else:
            parts.append(draw(st.sampled_from(["t1 ", "t2"])))
    return "".join(parts)


_SELECTORS = st.sampled_from(
    [
        "div", "span", "p em", "div > span", "li", "*",
        ".a", ".b", "div.a", "span.c", "[data-k]", "[data-k=u]",
        "div span", "div > p", "p, li", "div em", "img",
        "div:nth-child(1)", "span:first-child", "li:nth-child(2)",
        "div > span:first-child", "p :nth-child(1)",
    ]
)
_PROJ = st.sampled_from(
    [
        "@text", "@data-k", "img@src", "em@text", "span@text",
        # indexed projections (.Eq(n)/.Last() — goquery chains)
        "img@eq(1)@src", "img@last@src", "span@last@text",
        "div@eq(0)@text", "div@eq(2)@text", "em@last@text",
        ".a@eq(1)@text", "[data-k]@last@data-k",
        # chained Find steps (mid-chain Eq/Last, shunfenghaitao shape)
        "div@eq(0) span@last@text", "div@last em@eq(0)@text",
        "div@eq(1) img@eq(0)@src", "span@last div@last@text",
        "div@last .a@eq(0)@data-k",
        # inner-HTML projection (.Html() — jiban/zhihu/taobaosearch)
        "@html", "div@html", "span@eq(0)@html", "div@last@html",
        "img@eq(0)@html", "div@eq(0) span@last@html",
        # Children().Eq(n) idiom (fang_resell_list)
        "div > *@eq(0)@text", "span > *@last@text",
        # from-end indexing (goquery Eq(-n), miyabaobei pagination)
        "div@eq(-2)@text", "span@eq(-1)@text", "img@eq(-2)@src",
        "div@eq(-3)@html", "div@eq(0) span@eq(-2)@text",
        "span@last div@eq(-2)@text",
        # match-count projection (.Length(), miyabaobei pagination)
        "div@count", "span@count", "div@eq(0) span@count",
        "span@last div@count", "img@count",
        # multi-match join (@each — .Each accumulation, car_home;
        # multi-selection .Text(), taobaosearch/jdSpider)
        "div@each(|)@text", "span@each()@text", "img@each(,)@src",
        "div@each(;) span@eq(0)@text", "li@each(|) em@last@text",
        "div@eq(0) span@each(+)@text", "div@last p@each(,)@text",
        "div@each(/) em@count", "span@each(|)@html",
        "div@each(;) img@eq(-1)@src", "p@each(&)@data-k",
        ".a@each(|) *@eq(0)@text",
    ]
)


@settings(max_examples=300, deadline=None)
@given(body=_html_doc(), container=_SELECTORS, proj=_PROJ)
def test_fuzz_engine_matches_oracle(body, container, proj):
    html = f"<html><body>{body}</body></html>"
    er = ExtractRule(
        rule="r", kind="css", item_pattern=container,
        fields=("f",), field_css=(("f", proj),),
    )
    assert _apply_engine(html, er) == _css_items(html, er)


def test_each_projection_engine_equals_oracle():
    """``@each(sep)`` — goquery's two multi-match idioms: ``.Each``
    loop accumulation (car_home.go:113-128 ``关注的车 += f + "|"``)
    and multi-selection ``.Text()`` concatenation (taobaosearch.go:59
    ``Find("script").Text()``). Every match of the each segment
    evaluates the chain tail independently; values join with sep in
    document order."""
    cases = [
        # .Each accumulating an attr of a sub-chain pick (car_home)
        (
            '<div class="c"><li><a title="A">x</a></li><li>no</li>'
            '<li><a title="B1">1</a><a title="B2">2</a></li></div>',
            "li@each(|) a@last@title", "A||B2",
        ),
        # multi-selection Text(): all <script> texts concatenated
        (
            '<div class="c"><script>aa</script><p>m</p>'
            "<script>bb</script></div>",
            "script@each()@text", "aabb",
        ),
        # empty selection -> '' (join of nothing)
        ('<div class="c"></div>', "li@each(|)@text", ""),
        # per-match sub-chain misses produce '' slots
        (
            '<div class="c"><span><b>s1b1</b><b>s1b2</b></span>'
            "<span></span><span><b>s3</b></span></div>",
            "span@each(;) b@eq(1)@text", "s1b2;;",
        ),
        # per-match counts
        (
            '<div class="c"><ul><li>1</li><li>2</li></ul>'
            "<ul><li>3</li></ul></div>",
            "ul@each(/) li@count", "2/1",
        ),
        # @last BEFORE each: re-anchor discards earlier children
        (
            '<div class="c"><ul><li>a</li></ul>'
            "<ul><li>x</li><li>y</li></ul></div>",
            "ul@last li@each(,)@text", "x,y",
        ),
        # nested matches spawn independent children
        (
            '<div class="c"><div class="x">o<div class="x">i</div>'
            "t</div></div>",
            "div.x@each(|)@text", "oit|i",
        ),
        # a sibling's sub-match must not leak into a closed child
        (
            '<div class="c"><p><b>1</b></p><p><b>2</b></p></div>',
            "p@each(,) b@eq(0)@text", "1,2",
        ),
        # void each targets: attr projects, chain tail finds nothing
        (
            '<div class="c"><img src="a"><img src="b"></div>',
            "img@each(,)@src", "a,b",
        ),
        (
            '<div class="c"><img src="a"><img src="b"></div>',
            "img@each(,) b@text", ",",
        ),
        # per-match from-end pick and inner-HTML
        (
            '<div class="c"><p><em>e1</em></p><p><em>x</em>'
            "<em>y</em></p></div>",
            "p@each(+) em@eq(-1)@text", "e1+y",
        ),
        (
            '<div class="c"><p>a<b>bb</b></p><p>c</p></div>',
            "p@each(|)@html", "a<b>bb</b>|c",
        ),
    ]
    for html, spec, want in cases:
        er = ExtractRule(
            rule="r", kind="css", item_pattern="div.c",
            fields=("f",), field_css=(("f", spec),),
        )
        got = _apply_engine(html, er)
        assert got == _css_items(html, er), spec
        assert got[0]["f"] == want, spec


def test_each_rejections_symmetric():
    """Both parsers reject the same malformed @each specs."""
    from pholcus_spark.extract import parse_field_spec

    for bad in [
        "li@each(|) a@each(,)@text",  # at most one @each
        "@each(|)@text",              # each needs a selector
        "a@each(|)@count",            # count must follow a bare selector
    ]:
        with pytest.raises(ValueError):
            parse_field_spec(bad)
        with pytest.raises(ValueError):
            _oracle_parse_field_spec(bad)


def test_structural_chars_inside_attribute_values():
    """ADVICE r3: '>'/','/' ' inside an attribute-selector value must
    not read as combinator/group-separator/descendant — both scanners
    (engine char scanner, oracle regex scanner) bracket-protect them."""
    html = """<html><body><div class="doc">
    <img alt="a>b" src="gt.png"><img alt="x, y" src="comma.png">
    <li title='two words'>w</li><li title="q">q</li>
    </div></body></html>"""
    cases = [
        ('img[alt=a>b]@src', "gt.png"),
        ('img[alt="a>b"]@src', "gt.png"),
        ('img[alt="x, y"]@src', "comma.png"),
        ("li[title='two words']@text", "w"),
    ]
    for spec, want in cases:
        er = ExtractRule(
            rule="r", kind="css", item_pattern="div.doc",
            fields=("f",), field_css=(("f", spec),),
        )
        got = _apply_engine(html, er)
        assert got == _css_items(html, er), spec
        assert got[0]["f"] == want, spec
    # grouped selectors still split on top-level commas
    er2 = ExtractRule(
        rule="r", kind="css", item_pattern="div.doc",
        fields=("f",), field_css=(("f", 'li[title=q], img[alt="a>b"]@text'),),
    )
    assert _apply_engine(html, er2) == _css_items(html, er2)
    # unbalanced bracket rejected by BOTH matchers
    from pholcus_spark.css import compile_selector
    from pholcus_spark.oracle import _oracle_parse_selector

    for bad in ("li[", "li[a=1"):
        with pytest.raises(ValueError):
            compile_selector(bad)
        with pytest.raises(ValueError):
            _oracle_parse_selector(bad)
