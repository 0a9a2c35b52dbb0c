"""Dynamic-rule spider files — the reference's file-defined spider
registry (``app/spider/parsejs.go:60-198``) re-expressed Spark-first.

The reference scans ``SpiderDir`` for ``*.pholcus.xml`` (and legacy
``*.pholcus.html``) files, each an XML ``SpiderModle`` envelope
(``parsejs.go:34-56``: Name / Description / Pausetime / EnableLimit /
EnableKeyin / EnableCookie / NotDefaultField, ``Namespace>Script`` /
``SubNamespace>Script`` / ``Root>Script`` and repeated ``Rule`` nodes
with ``ParseFunc>Script`` / ``AidFunc>Script``), and evaluates every
``<Script>`` body as JavaScript in a fresh otto VM per call
(``parsejs.go:111-147``).

Per SURVEY §2.1/§7.3, the JS engine is out of scope (a per-row
interpreter is exactly the non-vectorizable path this engine avoids);
the *capability* — spiders defined in data files discovered at startup,
no code deploy — is kept. The envelope here is tag-for-tag the
reference's ``SpiderModle`` (same names, same Go zero-value defaults,
same CDATA auto-wrapping, same legacy-extension precedence and same
log-and-skip on malformed files), while the ``<Script>`` slots hold
**declarative JSON** over the engine's rule surface instead of JS:

* ``Root>Script`` — an object seeding and globally wiring the spider::

      {"seeds": [{"url": "...", "rule": "...", "priority": 0, ...}],
       "link_rules": [["/p/", "list", 0], ...],
       "item_rules": [...], "image_rule": "...",
       "follow_anchors": false, "headers": [["Referer", "..."]],
       "carry_concat": [...], "limit": 100, "max_depth": 3}

  (the reference Root script is where authors ``ctx.AddQueue`` the
  entry requests and, implicitly through rule names, the routing)
* ``Rule name="X"`` / ``ParseFunc>Script`` — one ExtractRule kwargs
  object (or a list of them); ``rule`` is filled from the ``name``
  attribute. Every declarative field of
  :class:`pholcus_spark.spiderspec.ExtractRule` is accepted — JSON
  arrays become the dataclass's tuples, and a null takes the field's
  default (in every rule object of the file).
* ``Rule name="X"`` / ``AidFunc>Script`` — PaginateRule kwargs (or a
  list); ``rule`` filled from the attribute (the reference AidFunc is
  the Aid-loop page generator, which PaginateRule already models).
* ``Rule name="X"`` / ``ParseFunc>Script`` = ``{"file_output":
  "<nameOrExt>"}`` — the ``ctx.FileOutput(nameOrExt)`` ParseFunc body
  (filetest.go:56-64): declares a :class:`FileRule` — the rule's
  fetched bodies land raw in the ``files`` table; no other keys
  allowed on that object.
* ``SubNamespace>Script`` — the item-data FIELD NAME whose value
  names the output table (``spider.go:40-47``; the reference script
  returns ``dataCell["分类"]`` — ours names the field).
* ``Namespace>Script`` — a literal name overriding ``<Name>`` for
  output namespacing.

Both interpreters are untouched: a loaded file produces the same
:class:`~pholcus_spark.spiderspec.SpiderSpec` the python samples build,
so the engine and the conformance oracle consume file-defined spiders
with zero special-casing.
"""

from __future__ import annotations

import dataclasses
import glob
import json
import os
import re
import warnings
import xml.etree.ElementTree as ET

from .spiderspec import (
    ExtractRule,
    FileRule,
    LinkRule,
    PaginateRule,
    SpiderSpec,
)

# reference config.go:30-31
SPIDER_EXT = ".pholcus.xml"
SPIDER_EXT_OLD = ".pholcus.html"

# parsejs.go:22 scriptTagRe — (?s)(<Script[^>]*>)(.*?)(</Script>)
_SCRIPT_TAG_RE = re.compile(r"(<Script[^>]*>)(.*?)(</Script>)", re.S)


class SpiderFileError(ValueError):
    """A spider file failed to parse (envelope XML or a Script payload)."""


@dataclasses.dataclass(frozen=True)
class SpiderFile:
    """One loaded spider file: the SpiderSpec plus the envelope's
    run-configuration flags the spec itself doesn't carry
    (``parsejs.go:68-82``: Pausetime → crawl pacing, EnableLimit →
    take the task-provided cap, EnableCookie → cookie-session fetcher,
    NotDefaultField → sinks omit the Url/ParentUrl/DownloadTime
    provenance columns)."""

    spec: SpiderSpec
    seeds: tuple[dict, ...] = ()
    description: str = ""
    pausetime_ms: int = 0  # reference Pausetime (ms between dispatches)
    enable_limit: bool = False  # sp.Limit = LIMIT → cap comes from the task
    enable_keyin: bool = False  # sp.Keyin = KEYIN → %keyin% fan-out allowed
    enable_cookie: bool = False  # → HttpFetcher(enable_cookie=True)
    not_default_field: bool = False  # sinks drop provenance columns
    path: str = ""

    def spec_with_limit(self, limit: int) -> SpiderSpec:
        """The EnableLimit contract: the file opts in, the TASK supplies
        the number (``parsejs.go:76-78`` sets the LIMIT sentinel; the
        actual value arrives with the run)."""
        if not self.enable_limit:
            return self.spec
        return dataclasses.replace(self.spec, limit=limit)


def wrap_script_cdata(text: str) -> str:
    """Wrap each ``<Script>`` body in CDATA unless already wrapped, so
    authors write ``<``/``>``/``&`` (selectors, regexes, JSON) without
    manual escaping — byte-for-byte the reference's preprocessing
    (``parsejs.go:152-170`` wrapScriptCDATA)."""

    def _wrap(m: re.Match) -> str:
        open_, body, close_ = m.group(1), m.group(2), m.group(3)
        if body.strip().startswith("<![CDATA["):
            return m.group(0)
        return f"{open_}<![CDATA[{body}]]>{close_}"

    return _SCRIPT_TAG_RE.sub(_wrap, text)


def _parse_bool(raw: str | None) -> bool:
    """Go ``strconv.ParseBool`` set (encoding/xml bool fields accept
    exactly these); missing/empty element → Go zero value ``false``."""
    if raw is None:
        return False
    raw = raw.strip()
    if raw in ("1", "t", "T", "TRUE", "true", "True"):
        return True
    if raw in ("", "0", "f", "F", "FALSE", "false", "False"):
        return False
    raise SpiderFileError(f"invalid boolean {raw!r}")


def _deep_tuple(v):
    """JSON arrays → the nested tuples the frozen dataclasses declare
    (field_css pairs, field_transforms op-chains, page_expr, ...)."""
    if isinstance(v, list):
        return tuple(_deep_tuple(x) for x in v)
    return v


def _kwargs(obj: dict, what: str) -> dict:
    """A JSON object → dataclass keyword arguments. A null value means
    the field's default, so its key is dropped."""
    if not isinstance(obj, dict):
        raise SpiderFileError(f"{what}: expected a JSON object, got {type(obj).__name__}")
    return {k: _deep_tuple(v) for k, v in obj.items() if v is not None}


def _script_text(parent: ET.Element | None) -> str:
    """``xml:"X>Script"`` accessor: text of the child ``<Script>``
    (missing path → Go zero value '')."""
    if parent is None:
        return ""
    node = parent.find("Script")
    if node is None:
        return ""
    return (node.text or "").strip()


def _json_script(text: str, what: str):
    try:
        return json.loads(text)
    except json.JSONDecodeError as e:
        raise SpiderFileError(f"{what}: invalid JSON — {e}") from e


def _link_rule(entry, what: str) -> LinkRule:
    if isinstance(entry, dict):
        try:
            return LinkRule(**_kwargs(entry, what))
        except TypeError as e:
            raise SpiderFileError(f"{what}: {e}") from e
    if isinstance(entry, list):
        try:
            return LinkRule(*entry)
        except TypeError as e:
            raise SpiderFileError(f"{what}: {e}") from e
    raise SpiderFileError(f"{what}: expected object or array")


def _as_list(obj) -> list:
    return obj if isinstance(obj, list) else [obj]


def parse_spider_xml(text: str, path: str = "") -> SpiderFile:
    """Parse one spider file's text into a :class:`SpiderFile`.

    Envelope faithfulness (``parsejs.go:34-56``): tag names, Go
    zero-value defaults for missing elements, CDATA auto-wrap
    preprocessing. Payload: declarative JSON per the module docstring.
    """
    try:
        root = ET.fromstring(wrap_script_cdata(text))
    except ET.ParseError as e:
        raise SpiderFileError(f"{path or '<string>'}: bad XML — {e}") from e

    def _text(tag: str) -> str:
        node = root.find(tag)
        return (node.text or "").strip() if node is not None else ""

    name = _text("Name")
    if not name:
        raise SpiderFileError(f"{path or '<string>'}: missing <Name>")
    namespace = _script_text(root.find("Namespace"))
    if namespace:
        name = namespace
    sub_field = _script_text(root.find("SubNamespace")) or None

    pausetime_raw = _text("Pausetime")
    try:
        pausetime = int(pausetime_raw) if pausetime_raw else 0
    except ValueError as e:
        raise SpiderFileError(f"{path}: bad <Pausetime> {pausetime_raw!r}") from e

    root_script = _script_text(root.find("Root"))
    root_obj = _json_script(root_script, f"{path}: Root script") if root_script else {}
    if not isinstance(root_obj, dict):
        raise SpiderFileError(f"{path}: Root script must be a JSON object")
    known_root = {
        "seeds", "link_rules", "item_rules", "image_rule",
        "follow_anchors", "headers", "carry_concat", "limit", "max_depth",
    }
    unknown = set(root_obj) - known_root
    if unknown:
        raise SpiderFileError(f"{path}: Root script: unknown keys {sorted(unknown)}")
    # a null value means the default, as in _kwargs
    root_obj = {k: v for k, v in root_obj.items() if v is not None}

    extract_rules: list[ExtractRule] = []
    paginate_rules: list[PaginateRule] = []
    file_rules: list[FileRule] = []
    for rule_node in root.findall("Rule"):
        rule_name = (rule_node.get("name") or "").strip()
        if not rule_name:
            raise SpiderFileError(f"{path}: <Rule> missing name attribute")
        parse_script = _script_text(rule_node.find("ParseFunc"))
        if parse_script:
            for obj in _as_list(_json_script(
                parse_script, f"{path}: Rule {rule_name!r} ParseFunc"
            )):
                kw = _kwargs(obj, f"{path}: Rule {rule_name!r} ParseFunc")
                if "file_output" in obj:
                    # the ctx.FileOutput(nameOrExt) ParseFunc body
                    # (filetest.go:56-64): the rule collects the raw
                    # body as a FileCell, nothing else may be declared
                    extra = set(kw) - {"file_output"}
                    if extra:
                        raise SpiderFileError(
                            f"{path}: Rule {rule_name!r} ParseFunc: "
                            f"file_output excludes other keys "
                            f"{sorted(extra)}"
                        )
                    file_rules.append(
                        FileRule(rule_name, kw.get("file_output", ""))
                    )
                    continue
                kw.setdefault("rule", rule_name)
                try:
                    extract_rules.append(ExtractRule(**kw))
                except TypeError as e:
                    raise SpiderFileError(
                        f"{path}: Rule {rule_name!r} ParseFunc: {e}"
                    ) from e
        aid_script = _script_text(rule_node.find("AidFunc"))
        if aid_script:
            for obj in _as_list(_json_script(
                aid_script, f"{path}: Rule {rule_name!r} AidFunc"
            )):
                kw = _kwargs(obj, f"{path}: Rule {rule_name!r} AidFunc")
                kw.setdefault("rule", rule_name)
                try:
                    paginate_rules.append(PaginateRule(**kw))
                except TypeError as e:
                    raise SpiderFileError(
                        f"{path}: Rule {rule_name!r} AidFunc: {e}"
                    ) from e

    spec_kw: dict = {
        "extract_rules": tuple(extract_rules),
        "paginate_rules": tuple(paginate_rules),
        "file_rules": tuple(file_rules),
        "sub_namespace_field": sub_field,
    }
    if "link_rules" in root_obj:
        spec_kw["link_rules"] = tuple(
            _link_rule(e, f"{path}: Root link_rules")
            for e in root_obj["link_rules"]
        )
    if "item_rules" in root_obj:
        spec_kw["item_rules"] = tuple(root_obj["item_rules"])
    if "image_rule" in root_obj:
        spec_kw["image_rule"] = root_obj["image_rule"]
    if "follow_anchors" in root_obj:
        spec_kw["follow_anchors"] = bool(root_obj["follow_anchors"])
    if "headers" in root_obj:
        spec_kw["headers"] = _deep_tuple(root_obj["headers"])
    if "carry_concat" in root_obj:
        spec_kw["carry_concat"] = tuple(root_obj["carry_concat"])
    if "limit" in root_obj:
        spec_kw["limit"] = root_obj["limit"]
    if "max_depth" in root_obj:
        spec_kw["max_depth"] = root_obj["max_depth"]

    enable_keyin = _parse_bool(_text("EnableKeyin") or None)
    seeds = []
    for s in root_obj.get("seeds", ()):
        seed = {"url": s} if isinstance(s, str) else dict(s)
        seed.setdefault("spider", name)
        if not enable_keyin and "keyin" in seed:
            # EnableKeyin=false leaves sp.Keyin empty in the reference
            # (parsejs.go:79-81): keyin never reaches the spider
            seed = {k: v for k, v in seed.items() if k != "keyin"}
        seeds.append(seed)

    return SpiderFile(
        spec=SpiderSpec(name, **spec_kw),
        seeds=tuple(seeds),
        description=_text("Description"),
        pausetime_ms=pausetime,
        enable_limit=_parse_bool(_text("EnableLimit") or None),
        enable_keyin=enable_keyin,
        enable_cookie=_parse_bool(_text("EnableCookie") or None),
        not_default_field=_parse_bool(_text("NotDefaultField") or None),
        path=path,
    )


def load_spider_file(path: str) -> SpiderFile:
    with open(path, encoding="utf-8") as f:
        return parse_spider_xml(f.read(), path=path)


def load_spider_dir(spider_dir: str, strict: bool = False) -> list[SpiderFile]:
    """Scan a directory for spider files — the reference's
    ``getSpiderModles`` (``parsejs.go:173-198``): glob ``*.pholcus.xml``
    plus legacy ``*.pholcus.html``, LEGACY FILES FIRST (the reference
    appends new-ext files after old-ext ones), and log-and-skip any
    file that fails to read or parse (``strict=True`` raises instead).
    """
    files = sorted(glob.glob(os.path.join(spider_dir, "*" + SPIDER_EXT)))
    old = sorted(glob.glob(os.path.join(spider_dir, "*" + SPIDER_EXT_OLD)))
    out: list[SpiderFile] = []
    for path in old + files:
        try:
            out.append(load_spider_file(path))
        except (OSError, SpiderFileError) as e:
            if strict:
                raise
            warnings.warn(f"dynamic rule [{path}]: {e}", stacklevel=2)
    return out
