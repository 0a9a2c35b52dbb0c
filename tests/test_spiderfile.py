"""Dynamic-rule spider files (parsejs.go:34-198 re-expressed as a
declarative registry): envelope parity, payload → dataclass fidelity,
directory-scan semantics, and a full engine-vs-oracle crawl driven by
a FILE-defined spider."""

from __future__ import annotations

import os
import sys
import textwrap

import pytest

from pholcus_spark import spiderfile
from pholcus_spark.spiderspec import (
    ExtractRule,
    LinkRule,
    PaginateRule,
    SpiderSpec,
)


def _envelope(body: str, **tags) -> str:
    extra = "".join(f"<{k}>{v}</{k}>" for k, v in tags.items())
    return f"<Spider><Name>t</Name>{extra}{body}</Spider>"


def test_avatar_file_equals_python_spec():
    """samples/qq_avatar.pholcus.xml loads to EXACTLY the SpiderSpec
    the python sample builds — file-defined and code-defined spiders
    are the same object to both interpreters."""
    sys.path.insert(0, "samples")
    from avatar_css_spider import AVATAR_SPIDER

    sf = spiderfile.load_spider_file("samples/qq_avatar.pholcus.xml")
    assert sf.spec == AVATAR_SPIDER
    assert sf.seeds == (
        {"spider": "qq_avatar", "url": "http://avatar.test/s/0",
         "rule": "搜索结果", "priority": 0},
    )
    assert sf.pausetime_ms == 300
    assert not sf.enable_cookie and not sf.enable_limit


def test_file_defined_spider_crawls_like_oracle(spark):
    """End-to-end: the FILE-defined avatar spider drives the engine and
    matches the pure-python oracle run over the same corpus."""
    sys.path.insert(0, "samples")
    from avatar_css_spider import build_corpus

    from pholcus_spark import testkit

    sf = spiderfile.load_spider_file("samples/qq_avatar.pholcus.xml")
    corpus = build_corpus(n_avatars=5)
    # the file's seeds ARE the corpus seeds (Root script parity)
    assert list(sf.seeds) == corpus.seeds
    run = testkit.run_engine(spark, corpus, sf.spec)
    try:
        res = testkit.run_oracle(corpus, sf.spec)
        assert testkit.items_set_engine(run) == testkit.items_set_oracle(res)
        seen = {r.key for r in run.df("url_seen").select("key").collect()}
        assert seen == res.seen
        assert run.df("images").count() == 5
    finally:
        run.cleanup()


def test_cdata_wrapping_parity():
    # raw < > & inside Script bodies parse (wrapScriptCDATA parity)
    xml = _envelope(
        '<Root><Script>{"seeds": ["http://h.test/p/a?x=1&y=2"], '
        '"item_rules": ["detail"]}</Script></Root>'
    )
    sf = spiderfile.parse_spider_xml(xml)
    assert sf.seeds[0]["url"] == "http://h.test/p/a?x=1&y=2"
    # already-CDATA bodies are left untouched (no double wrap)
    xml2 = _envelope(
        '<Root><Script><![CDATA[{"seeds": ["http://h.test/p/b?a=1&b=2"]}]]>'
        "</Script></Root>"
    )
    assert (
        spiderfile.parse_spider_xml(xml2).seeds[0]["url"]
        == "http://h.test/p/b?a=1&b=2"
    )
    # selector text with < > survives into field_css
    xml3 = _envelope(
        textwrap.dedent(
            """\
            <Rule name="list"><ParseFunc><Script>
              {"kind": "css", "item_pattern": "div.c",
               "fields": ["t"], "field_css": [["t", "p > a@text"]]}
            </Script></ParseFunc></Rule>"""
        )
    )
    er = spiderfile.parse_spider_xml(xml3).spec.extract_rules[0]
    assert er.field_css == (("t", "p > a@text"),)


def test_envelope_zero_values_and_bools():
    sf = spiderfile.parse_spider_xml("<Spider><Name>n</Name></Spider>")
    assert sf.spec.name == "n"
    assert sf.pausetime_ms == 0
    assert not sf.enable_limit and not sf.enable_keyin
    assert not sf.enable_cookie and not sf.not_default_field
    assert sf.spec.extract_rules == () and sf.seeds == ()
    # Go strconv.ParseBool set
    sf2 = spiderfile.parse_spider_xml(
        _envelope("", EnableLimit="t", EnableCookie="1",
                  EnableKeyin="True", NotDefaultField="F")
    )
    assert sf2.enable_limit and sf2.enable_cookie and sf2.enable_keyin
    assert not sf2.not_default_field
    with pytest.raises(spiderfile.SpiderFileError):
        spiderfile.parse_spider_xml(_envelope("", EnableLimit="yes"))
    with pytest.raises(spiderfile.SpiderFileError):
        spiderfile.parse_spider_xml("<Spider></Spider>")  # missing Name


def test_rich_payload_to_dataclasses():
    """Nested payloads — transforms op-chains, AidFunc pagination,
    SubNamespace, Namespace override — land as the exact dataclasses.
    A JSON null takes the field's default: the rule with
    ``"carry_fields": null`` and ``"field_json": null`` equals the
    same rule without those keys."""
    xml = textwrap.dedent(
        """\
        <Spider>
          <Name>raw</Name>
          <Namespace><Script>fang</Script></Namespace>
          <SubNamespace><Script>分类</Script></SubNamespace>
          <Root><Script>
            {"seeds": [{"url": "http://f.test/p/1", "rule": "list"}],
             "link_rules": [{"pattern": "/p/", "rule": "list", "priority": 0},
                            ["/d/", "detail", 1, "POST", "a=1"]],
             "item_rules": [], "follow_anchors": false,
             "headers": [["Referer", "http://f.test/"]], "limit": 40}
          </Script></Root>
          <Rule name="list">
            <ParseFunc><Script>
              {"kind": "css", "item_pattern": "dl",
               "fields": ["addr", "biz", "pages"],
               "field_css": [["addr", "dd p@text"], ["biz", "dd p@text"],
                             ["pages", "a@count"]],
               "field_transforms": [
                 ["addr", [["split_pick", "-", 0, 2, "keep"], ["trim"]]],
                 ["biz", [["split_pick", "-", 1, 2, "empty"]]]],
               "require_fields": ["addr"],
               "carry_fields": null, "field_json": null}
            </Script></ParseFunc>
            <AidFunc><Script>
              {"count_field": "pages",
               "url_template": "http://f.test/p/%d",
               "target_rule": "list", "start": 2, "max_pages": 5,
               "page_expr": [2, -1]}
            </Script></AidFunc>
          </Rule>
        </Spider>"""
    )
    sf = spiderfile.parse_spider_xml(xml)
    assert sf.spec.name == "fang"  # Namespace script overrides <Name>
    assert sf.spec.sub_namespace_field == "分类"
    assert sf.spec.link_rules == (
        LinkRule("/p/", "list", 0),
        LinkRule("/d/", "detail", 1, "POST", "a=1"),
    )
    assert sf.spec.follow_anchors is False
    assert sf.spec.headers == (("Referer", "http://f.test/"),)
    assert sf.spec.limit == 40
    er = sf.spec.extract_rules[0]
    assert er == ExtractRule(
        rule="list", kind="css", item_pattern="dl",
        fields=("addr", "biz", "pages"),
        field_css=(("addr", "dd p@text"), ("biz", "dd p@text"),
                   ("pages", "a@count")),
        field_transforms=(
            ("addr", (("split_pick", "-", 0, 2, "keep"), ("trim",))),
            ("biz", (("split_pick", "-", 1, 2, "empty"),)),
        ),
        require_fields=("addr",),
    )
    assert sf.spec.paginate_rules == (
        PaginateRule(rule="list", count_field="pages",
                     url_template="http://f.test/p/%d", target_rule="list",
                     start=2, max_pages=5, page_expr=(2, -1)),
    )


def test_payload_errors_are_contextual():
    bad_json = _envelope("<Root><Script>{not json</Script></Root>")
    with pytest.raises(spiderfile.SpiderFileError, match="Root script"):
        spiderfile.parse_spider_xml(bad_json)
    bad_kw = _envelope(
        '<Rule name="r"><ParseFunc><Script>'
        '{"item_pattern": "d", "fields": ["x"], "no_such_field": 1}'
        "</Script></ParseFunc></Rule>"
    )
    with pytest.raises(spiderfile.SpiderFileError, match="no_such_field"):
        spiderfile.parse_spider_xml(bad_kw)
    unknown_root = _envelope('<Root><Script>{"seedz": []}</Script></Root>')
    with pytest.raises(spiderfile.SpiderFileError, match="seedz"):
        spiderfile.parse_spider_xml(unknown_root)


def test_enable_keyin_gates_seed_keyin():
    seed = ('{"seeds": [{"url": "http://h.test/s?wd=%keyin_esc%", '
            '"rule": "r", "keyin": "<a><b>"}]}')
    on = spiderfile.parse_spider_xml(
        _envelope(f"<Root><Script>{seed}</Script></Root>", EnableKeyin="true")
    )
    assert on.seeds[0]["keyin"] == "<a><b>"
    off = spiderfile.parse_spider_xml(
        _envelope(f"<Root><Script>{seed}</Script></Root>")
    )
    assert "keyin" not in off.seeds[0]


def test_spec_with_limit_contract():
    sf = spiderfile.parse_spider_xml(_envelope("", EnableLimit="true"))
    assert sf.spec.limit is None
    assert sf.spec_with_limit(99).limit == 99
    off = spiderfile.parse_spider_xml(_envelope(""))
    assert off.spec_with_limit(99).limit is None  # file didn't opt in


def test_dir_scan_legacy_first_and_skip(tmp_path):
    good = "<Spider><Name>new</Name></Spider>"
    legacy = "<Spider><Name>old</Name></Spider>"
    (tmp_path / "a.pholcus.xml").write_text(good)
    (tmp_path / "b.pholcus.html").write_text(legacy)
    (tmp_path / "c.pholcus.xml").write_text("<broken")
    with pytest.warns(UserWarning, match="dynamic rule"):
        out = spiderfile.load_spider_dir(str(tmp_path))
    # legacy files precede new-ext files (parsejs.go:178-180); the
    # malformed file is logged and skipped, not fatal
    assert [s.spec.name for s in out] == ["old", "new"]
    assert out[0].path.endswith("b.pholcus.html")
    with pytest.raises(spiderfile.SpiderFileError):
        spiderfile.load_spider_dir(str(tmp_path), strict=True)


def test_default_spec_shape_matches_spiderspec_defaults():
    """A file with only a Name inherits SpiderSpec's defaults — the
    loader adds nothing the dataclass doesn't declare."""
    sf = spiderfile.parse_spider_xml("<Spider><Name>d</Name></Spider>")
    assert sf.spec == SpiderSpec("d")


def test_file_output_rule_in_spider_file():
    """{"file_output": nameOrExt} ParseFunc payloads declare FileRules
    (filetest.go:56-64 as a dynamic file); the parsed spec equals the
    python-authored filetest spider, and mixing file_output with other
    keys is rejected."""
    from pholcus_spark.spiderspec import FileRule

    sf = spiderfile.load_spider_file("samples/filetest.pholcus.xml")
    assert sf.spec.file_rules == (
        FileRule("百度图片", "baidu"),
        FileRule("Pholcus页面", ""),
    )
    assert sf.spec.extract_rules == ()
    import sys

    sys.path.insert(0, "samples")
    try:
        from filetest_spider import FILETEST_SPIDER
    finally:
        sys.path.remove("samples")
    assert sf.spec == FILETEST_SPIDER
    assert [s["url"] for s in sf.seeds] == [
        "http://www.baidu.test/img/bd_logo1.png",
        "http://github.test/andeya/pholcus",
    ]
    with pytest.raises(spiderfile.SpiderFileError, match="file_output"):
        spiderfile.parse_spider_xml(
            '<Spider><Name>x</Name><Rule name="r"><ParseFunc><Script>'
            '{"file_output": "a", "fields": ["x"]}'
            "</Script></ParseFunc></Rule></Spider>"
        )


def test_file_output_spider_file_crawls_like_oracle(spark):
    """End-to-end: the XML-defined filetest spider drives the engine
    and its files table matches the oracle's FileCell set."""
    import sys

    sys.path.insert(0, "samples")
    try:
        import filetest_spider
    finally:
        sys.path.remove("samples")
    from pholcus_spark import testkit
    from pholcus_spark.oracle import OracleConfig

    sf = spiderfile.load_spider_file("samples/filetest.pholcus.xml")
    corpus = filetest_spider.build_corpus()
    run = testkit.run_engine(spark, corpus, sf.spec)
    try:
        res = testkit.run_oracle(corpus, sf.spec, OracleConfig())
        fdf = run.df("files")
        eng = {(r.rule, r.name, r.size) for r in fdf.collect()}
        assert eng == {
            (f["rule"], f["name"], f["size"]) for f in res.files
        }
        assert eng == {
            ("百度图片", "baidu.png", len(filetest_spider.PNG_BODY)),
            ("Pholcus页面", "pholcus.html", len(filetest_spider.DOC_BODY)),
        }
    finally:
        run.cleanup()
