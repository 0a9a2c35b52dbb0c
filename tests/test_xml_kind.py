"""The ``kind="xml"`` ExtractRule (encoding/xml Unmarshal rules —
baidunews.go:53-66, 113-136) and the ``clean_html`` field transform
(spidercommon.CleanHtml, common.go:18-41).

Two independent implementations are cross-checked everywhere: the
engine walks an ElementTree (extract.apply_rule_spec), the conformance
oracle runs a single-pass expat SAX matcher with a path stack and no
tree (oracle._xml_items) — the same two-distinct-algorithms property
the css kinds have, fuzz-pinned with hypothesis.
"""

from __future__ import annotations

import pytest
from hypothesis import given, settings, strategies as st

from pholcus_spark.extract import (
    apply_rule_spec,
    clean_html_py,
    compile_rules,
    compile_transforms,
)
from pholcus_spark.oracle import _oracle_transform_value, _xml_items
from pholcus_spark.spiderspec import ExtractRule

ER = ExtractRule(
    rule="x",
    kind="xml",
    item_pattern="channel.item",
    fields=("title", "link", "description"),
)


def _both(text: str, er: ExtractRule = ER):
    eng = apply_rule_spec(text, "xml", er.item_pattern, er.fields)
    ora = _xml_items(text, er)
    assert eng == ora, f"engine/oracle diverge on {text!r}"
    return eng


def test_rss_basic():
    out = _both(
        '<?xml version="1.0"?><rss version="2.0"><channel><title>c</title>'
        "<item><title>t1</title><link>http://a/1</link>"
        "<description>d1</description></item>"
        "<item><title>t2</title><link>http://a/2</link></item>"
        "</channel></rss>"
    )
    assert out == [
        {"title": "t1", "link": "http://a/1", "description": "d1"},
        {"title": "t2", "link": "http://a/2", "description": ""},
    ]


def test_direct_chardata_only():
    # encoding/xml saveData-at-depth-1: nested element text is skipped
    out = _both(
        "<rss><channel><item><title>a<b>skip</b>z</title>"
        "<link>L</link></item></channel></rss>"
    )
    assert out[0]["title"] == "az"


def test_repeated_scalar_last_wins():
    out = _both(
        "<rss><channel><item><title>first</title><title>second</title>"
        "<link>L</link></item></channel></rss>"
    )
    assert out[0]["title"] == "second"


def test_cdata_and_entities():
    out = _both(
        "<rss><channel><item><title><![CDATA[x < y & z]]></title>"
        "<link>a&amp;b</link></item></channel></rss>"
    )
    assert out[0] == {"title": "x < y & z", "link": "a&b", "description": ""}


def test_malformed_emits_nothing():
    # baidunews.go:118-120: Unmarshal err → log, return (no items)
    assert _both("<rss><channel><item><title>t</title>") == []
    assert _both("not xml at all") == []
    assert _both("") == []


def test_path_must_match_exact_depth():
    # an item nested deeper than channel.item does NOT match
    out = _both(
        "<rss><channel><wrap><item><title>X</title></item></wrap>"
        "<item><title>Y</title></item></channel></rss>"
    )
    assert [o["title"] for o in out] == ["Y"]


def test_multiple_path_parents():
    out = _both(
        "<rss><channel><item><title>A</title></item></channel>"
        "<channel><item><title>B</title></item></channel></rss>"
    )
    assert [o["title"] for o in out] == ["A", "B"]


def test_comment_inside_field():
    out = _both(
        "<rss><channel><item><title>a<!--c-->b</title>"
        "<link>L</link></item></channel></rss>"
    )
    assert out[0]["title"] == "ab"


def test_empty_path_rejected():
    er = ExtractRule(rule="x", kind="xml", item_pattern="", fields=("a",))
    assert apply_rule_spec("<r><a>1</a></r>", "xml", "", ("a",)) == []
    assert _xml_items("<r><a>1</a></r>", er) == []


# --- hypothesis fuzz: random small feeds, engine == oracle -----------

_TEXT = st.text(
    alphabet=st.characters(
        blacklist_categories=("Cs", "Cc"), blacklist_characters="<>&"
    ),
    max_size=20,
)
_FIELDNAMES = ("title", "link", "description", "pubDate", "author")


@st.composite
def _rss_doc(draw):
    n_items = draw(st.integers(0, 4))
    items = []
    for _ in range(n_items):
        parts = []
        for f in _FIELDNAMES:
            mode = draw(st.integers(0, 3))
            if mode == 0:
                continue  # field absent
            txt = draw(_TEXT)
            if mode == 2:  # nested element inside the field
                inner = draw(_TEXT)
                tail = draw(_TEXT)
                parts.append(f"<{f}>{txt}<b>{inner}</b>{tail}</{f}>")
            elif mode == 3:  # repeated field
                txt2 = draw(_TEXT)
                parts.append(f"<{f}>{txt}</{f}><{f}>{txt2}</{f}>")
            else:
                parts.append(f"<{f}>{txt}</{f}>")
        # stray non-field child
        if draw(st.booleans()):
            parts.append("<guid>g</guid>")
        items.append("<item>" + "".join(parts) + "</item>")
    lead = "<title>chan</title>" if draw(st.booleans()) else ""
    return f"<rss><channel>{lead}{''.join(items)}</channel></rss>"


@settings(max_examples=200, deadline=None)
@given(doc=_rss_doc())
def test_fuzz_engine_vs_oracle(doc):
    er = ExtractRule(
        rule="x", kind="xml", item_pattern="channel.item", fields=_FIELDNAMES
    )
    assert apply_rule_spec(doc, "xml", er.item_pattern, er.fields) == _xml_items(
        doc, er
    )


# --- clean_html transform: engine closure vs oracle interpreter ------

_HTMLISH = st.lists(
    st.sampled_from(
        list("abXY <>/=\"'\n\t") + ["<b>", "</b>", "<style>", "</style>",
                                    "<script>", "</script>", "  "]
    ),
    max_size=12,
).map("".join)


@settings(max_examples=200, deadline=None)
@given(v=_HTMLISH, depth=st.integers(0, 6))
def test_clean_html_engine_vs_oracle(v, depth):
    spec = (("f", (("clean_html", depth),)),)
    eng = compile_transforms(spec)["f"](v)
    ora = _oracle_transform_value(v, (("clean_html", depth),))
    assert eng == ora


def test_clean_html_reference_semantics():
    # common.go:18-41 chain, depth thresholds
    s = "<DIV>a  b<style>x</style><script>y</script><B>c</B></DIV>"
    assert clean_html_py(s, 0) == s
    assert clean_html_py(s, 1) == s.lower().replace("a  b", "a  b")  # tags lowered
    assert "<style>" not in clean_html_py(s, 2)
    assert "<script>" not in clean_html_py(s, 3)
    assert clean_html_py(s, 4) == "\na  b\nc\n\n"
    assert clean_html_py(s, 5) == "\na\nb\nc\n"
    # default depth is 5
    spec = (("f", (("clean_html",),)),)
    assert compile_transforms(spec)["f"](s) == clean_html_py(s, 5)


def test_clean_html_jvm_parity(spark):
    """The JVM column form (functions.html_clean.clean_html — (?i)
    patterns, no lowercase pass) must agree with the reference-exact
    python chain on the surviving text for depth 5."""
    from pyspark.sql import functions as F

    from pholcus_spark.functions.html_clean import clean_html

    rows = [
        ("<DIV>a  b<STYLE>x</STYLE><SCRIPT>y</SCRIPT><B>c</B></DIV>",),
        ("plain text only",),
        ("<p>nested <i>tags</i> here</p>  and   spaces",),
    ]
    df = spark.createDataFrame(rows, "s string")
    got = [r[0] for r in df.select(clean_html(F.col("s"), 5)).collect()]
    want = [clean_html_py(s, 5) for (s,) in rows]
    assert got == want


# --- emit flag plumbing ----------------------------------------------


def test_emit_false_items_still_drive_links():
    """_apply_rules_for keeps emit=False items in the fused output
    (they feed link_fields/pagination); the OUTPUT filter is the
    engine's items-table union."""
    from pholcus_spark.extract import _apply_rules_for

    er = ExtractRule(
        rule="list",
        kind="xml",
        item_pattern="channel.item",
        fields=("title", "link"),
        link_fields=("link",),
        carry_fields=("title",),
        emit=False,
    )
    compiled = compile_rules([er])
    items, links, carries = _apply_rules_for(
        compiled,
        "<rss><channel><item><title>T</title>"
        "<link>http://h.test/d/1</link></item></channel></rss>",
        "list",
        "http://h.test/rss",
    )
    assert links == ["http://h.test/d/1"]
    assert carries == [{"title": "T"}]
    assert items  # present in the fused frame; engine filters at union
