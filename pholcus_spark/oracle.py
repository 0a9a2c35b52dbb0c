"""Pure-Python single-threaded reference oracle.

Re-implements, without Spark, exactly the scheduling semantics of the
reference's ``app/scheduler/matrix.go`` (read line-by-line; citations
below), extended with the north rule's politeness-budgeted waves. It
produces the golden pull order, final URL-seen membership, item rows,
fetched-image set and per-superstep metrics that the Spark engine's
conformance tests assert against (FIXTURES.md §5).

Pinned reference semantics:

* Push dedup: non-reloadable requests dropped when their key is in the
  success history or temp history; temp inserted otherwise
  (``matrix.go:81-86,241-255``).
* Limit guard: ``maxPage`` starts at ``-limit`` and every accepted push
  (seeds AND requeued failures included) increments it; pushes are
  refused once ``maxPage >= 0`` (``matrix.go:59-61,97``).
* Pull order: highest priority bucket first, FIFO within a bucket
  (``matrix.go:101-124``) — realized here as (priority desc, seq asc)
  within each politeness wave.
* DoHistory: on success, non-reloadable keys enter the success history
  (reloadable successes do NOT — ``matrix.go:144-154``); temp entry is
  deleted either way for non-reloadable.
* Failure-requeue-once: first failure is stashed; when the queue drains,
  each stashed request is re-pushed exactly once (its map slot is set to
  a nil sentinel so a second failure goes to the permanent failure
  history) (``matrix.go:160-204``).

North-rule extensions (absent in the reference — SURVEY.md §2.3):
robots disallow-prefix filtering at push, and per-host crawl-delay wave
budgets ``max(1, wave_window_ms // crawl_delay_ms)``.
"""

from __future__ import annotations

import dataclasses
from collections import defaultdict

from .keys import (
    absolutize_safe,
    canonicalize_url_safe,
    host_of,
    request_key,
)
from .spiderspec import SpiderSpec, apply_keyin, fanout_spider_name, parse_keyins


@dataclasses.dataclass
class OracleConfig:
    wave_window_ms: int = 1500
    default_crawl_delay_ms: int = 375  # 1.25 × reference Pausetime 300 ms
    requeue_failures: bool = True
    # fair-share quota: max wave rows per spider, applied greedily (in
    # pull order) to the host-budgeted wave — the wave-parallel form of
    # the reference's per-spider avgRes slot cap (scheduler.go:92-99,
    # matrix.go:72-79). None = unlimited.
    per_spider_quota: int | None = None
    # in-fetch bounded retry (reference TryTimes, surf.go:158-197): each
    # engine-level fetch consumes try_times attempts; see FixtureFetcher.
    try_times: int = 1


@dataclasses.dataclass
class Req:
    spider: str
    rule: str
    url: str  # canonical
    host: str
    method: str
    priority: int
    seq: int
    depth: int
    parent_url: str | None
    key: str
    tries: int = 0
    retried: bool = False
    reloadable: bool = False
    temp: dict | None = None  # carry-along (request.go Temp)
    post_data: str = ""  # POST body (request.go PostData)


@dataclasses.dataclass
class OracleResult:
    seen: set[str]  # final success-history keys
    order: list[dict]  # spider, key, url, superstep, wave_pos, priority, seq
    items: list[dict]  # rule, url, parent_url, data
    images: list[dict]  # image_id, caption, url
    failed_final: list[str]  # keys in permanent failure history
    metrics: list[dict]  # per-superstep fetched/deduped/parsed/failed
    dropped_robots: int
    dropped_limit: int
    dropped_dup: int
    # FileCells from FileRule-matched fetches: rule, url, name, size
    files: list[dict] = dataclasses.field(default_factory=list)


# ---------------------------------------------------------------------------
# css-kind oracle: single-pass SAX-style selector matcher.
#
# Deliberately a DIFFERENT algorithm from the engine's
# (pholcus_spark/css.py builds an element tree and matches recursively;
# this one never builds a tree — it matches selector chains against the
# open-element stack during one HTMLParser pass), so engine==oracle is
# a real two-implementation check, like the json kind above.
# ---------------------------------------------------------------------------

_ORACLE_VOID = frozenset(
    "area base br col embed hr img input link meta param source track wbr".split()
)
_ORACLE_SIMPLE_RE = __import__("re").compile(
    r"([a-zA-Z][\w-]*|\*)|#([\w-]+)|\.([\w-]+)"
    r"|\[([\w-]+)(?:=([\"']?)([^\]\"']*)\5)?\]"
    r"|:([\w-]+)(?:\(([0-9]+)\))?"
)
_ORACLE_PSEUDOS = {"nth-child", "first-child"}  # start-tag-decidable


def _oracle_esc_text(s: str) -> str:
    return s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")


def _oracle_esc_attr(s: str) -> str:
    return (
        s.replace("&", "&amp;")
        .replace('"', "&quot;")
        .replace("<", "&lt;")
        .replace(">", "&gt;")
    )


# regex scanner (vs css.py's character scanner — mechanisms stay
# independent): one match per structural unit; [...] groups swallow
# their content whole, so '>'/','/whitespace inside attribute values
# (quoted or not) never read as combinators/separators
_ORACLE_SCAN_RE = __import__("re").compile(
    r"(?P<piece>(?:\[[^\]]*\]|[^\s>,\[])+)|(?P<comb>>)|(?P<sep>,)|\s+"
)


def _oracle_scan(sel: str) -> list[list[str]]:
    parts: list[list[str]] = [[]]
    pos = 0
    buf: list[str] = []
    while pos < len(sel):
        m = _ORACLE_SCAN_RE.match(sel, pos)
        if m is None:
            raise ValueError(f"bad selector {sel!r}")
        pos = m.end()
        if m.group("piece"):
            buf.append(m.group("piece"))
            continue
        if buf:  # adjacent pieces form one compound token
            parts[-1].append("".join(buf))
            buf = []
        if m.group("comb"):
            parts[-1].append(">")
        elif m.group("sep"):
            parts.append([])
    if buf:
        parts[-1].append("".join(buf))
    return parts


def _oracle_parse_selector(sel: str) -> list[list[tuple[str, tuple]]]:
    groups = []
    for toks in _oracle_scan(sel):
        chain: list[tuple[str, tuple]] = []
        comb = " "
        for t in toks:
            if t == ">":
                comb = ">"
                continue
            tag, id_, classes, attrs, pseudos = None, None, [], [], []
            pos = 0
            while pos < len(t):
                m = _ORACLE_SIMPLE_RE.match(t, pos)
                if m is None:
                    raise ValueError(f"bad selector token {t!r}")
                if m.group(1):
                    tag = m.group(1).lower()
                elif m.group(2):
                    id_ = m.group(2)
                elif m.group(3):
                    classes.append(m.group(3))
                elif m.group(4):
                    attrs.append(
                        (m.group(4).lower(), m.group(6) if m.group(5) is not None else None)
                    )
                else:
                    name = m.group(7).lower()
                    if name not in _ORACLE_PSEUDOS:
                        raise ValueError(f"unsupported pseudo-class :{name}")
                    arg = m.group(8)
                    if name == "nth-child" and arg is None:
                        raise ValueError(":nth-child requires an argument")
                    pseudos.append((name, int(arg) if arg is not None else None))
                pos = m.end()
            chain.append(
                (comb, (tag, id_, tuple(classes), tuple(attrs), tuple(pseudos)))
            )
            comb = " "
        if chain:
            groups.append(chain)
    return groups


def _oracle_simple_ok(el: tuple, simple: tuple) -> bool:
    tag, attrs, child_pos = el
    stag, sid, sclasses, sattrs, spseudos = simple
    if stag not in (None, "*") and tag != stag:
        return False
    if sid is not None and attrs.get("id") != sid:
        return False
    if sclasses:
        have = (attrs.get("class") or "").split()
        if any(c not in have for c in sclasses):
            return False
    for name, val in sattrs:
        if name not in attrs:
            return False
        if val is not None and attrs.get(name) != val:
            return False
    for name, arg in spseudos:
        # child_pos: 1-based position among element siblings, counted
        # by the parser's per-open-element counter stack
        if name == "nth-child" and child_pos != arg:
            return False
        if name == "first-child" and child_pos != 1:
            return False
    return True


def _oracle_path_matches(path: list, chain: list, floor: int) -> bool:
    """Does the element at the TOP of `path` match `chain`, with the
    final element strictly deeper than stack index `floor`? (floor=-1:
    unscoped.) Ancestor steps are unscoped, cascadia-style."""
    if len(path) - 1 <= floor:
        return False

    def step(p_idx: int, c_idx: int) -> bool:
        comb, simple = chain[c_idx]
        if not _oracle_simple_ok(path[p_idx], simple):
            return False
        if c_idx == 0:
            return True
        if comb == ">":
            return p_idx > 0 and step(p_idx - 1, c_idx - 1)
        return any(step(q, c_idx - 1) for q in range(p_idx - 1, -1, -1))

    return step(len(path) - 1, len(chain) - 1)


def _oracle_any_match(path: list, chains: list, floor: int) -> bool:
    return any(_oracle_path_matches(path, ch, floor) for ch in chains)


def _oracle_parse_field_spec(spec: str):
    """``field_css`` projection grammar (mirrors
    extract.parse_field_spec — the grammar is shared, the matching
    algorithm is not): ``([(compiled-selector, index), ...], proj)``
    where index is the 0-based ``@eq(n)`` ordinal or -1 for ``@last``;
    a bare ``<sel>@<proj>`` segment defaults to index 0. The ``html``
    projection (goquery ``.Html()``) is reserved like ``text``.
    Negative ordinals count from the end (goquery ``Eq(-n)``,
    miyabaobei.go:90); ≤ -2 only on the final segment — evaluated
    streaming with a bounded last-n candidate buffer."""
    re_mod = __import__("re")
    parts = spec.split("@")
    segments: list[tuple[list, int]] = []
    sel = parts[0].strip()
    proj = "text"
    for i, tok in enumerate(parts[1:]):
        m_eq = re_mod.match(r"eq\((-?\d+)\)(.*)\Z", tok, re_mod.S)
        m_last = re_mod.match(r"last(?![\w-])(.*)\Z", tok, re_mod.S)
        m_each = re_mod.match(r"each\(([^)@]*)\)(.*)\Z", tok, re_mod.S)
        if m_eq:
            segments.append((_oracle_parse_selector(sel), int(m_eq.group(1))))
            sel = m_eq.group(2).strip()
        elif m_last:
            segments.append((_oracle_parse_selector(sel), -1))
            sel = m_last.group(1).strip()
        elif m_each:
            if not sel:
                raise ValueError(
                    f"bad field spec {spec!r}: @each needs a selector"
                )
            segments.append(
                (_oracle_parse_selector(sel), ("each", m_each.group(1)))
            )
            sel = m_each.group(2).strip()
        else:
            if i != len(parts) - 2:
                raise ValueError(f"bad field spec {spec!r}")
            proj = tok.strip() or "text"
    if proj == "count" and not sel:
        raise ValueError(
            f"bad field spec {spec!r}: @count must follow a bare "
            "selector (no @eq/@last on the counted segment)"
        )
    if sel:
        segments.append((_oracle_parse_selector(sel), 0))
    for _s, idx in segments[:-1]:
        if isinstance(idx, int) and idx <= -2:
            raise ValueError(
                f"bad field spec {spec!r}: @eq({idx}) (negative,"
                " from-end) is only supported on the final segment"
            )
    if sum(1 for _s, idx in segments if isinstance(idx, tuple)) > 1:
        raise ValueError(
            f"bad field spec {spec!r}: at most one @each per spec"
        )
    return segments, proj


# void anchors (never on the open-element stack) get a floor no real
# element can exceed, so nothing ever "matches inside" them; the next
# end tag sweeps them out of the anchor list
_VOID_DEPTH = 1 << 30


class _FieldMachine:
    """Single-pass evaluator for one field's chained
    Find→Eq/Last→…→Text/Attr projection, scoped to one container
    capture. Anchors are the stack depths of the chosen element per
    segment; ``@last`` segments re-anchor on every later match
    (discarding deeper progress), ``@eq`` segments freeze once their
    chosen element closes."""

    __slots__ = (
        "stages", "proj", "anchors", "counts",
        "value", "text_buf", "text_depth", "dead_at",
        "html_buf", "html_depth", "html_open",
        "lastn", "lastn_n",
        "each_at", "each_sep", "children", "container_depth", "closed",
    )

    def __init__(self, stages, proj, container_depth, container_attrs,
                 container_void):
        self.stages = stages  # [(chains, idx)]
        self.proj = proj
        self.anchors: list[int] = []
        self.counts = [0] * len(stages)
        self.container_depth = container_depth
        self.closed = False
        # @each(sep) (goquery .Each accumulation / multi-selection
        # Text()): the each stage never anchors — every match SPAWNS an
        # independent child machine over the chain tail, scoped to the
        # matched element; result() joins the children with sep in
        # spawn (document) order
        self.each_at = None
        self.each_sep = ""
        for _t, (_c, _i) in enumerate(stages):
            if isinstance(_i, tuple):
                self.each_at = _t
                self.each_sep = _i[1]
                break
        self.children: list["_FieldMachine"] = []
        # final-segment @eq(-n), n>=2 (goquery Eq(-n), from the end):
        # streaming can't know "n-th from end" until the scope closes,
        # so keep the last n matches' candidate projections (bounded
        # ring); at result time the OLDEST retained candidate is the
        # answer iff >= n matches were seen (goquery out-of-range -> '')
        last_idx = stages[-1][1] if stages else 0
        self.lastn_n = (
            -last_idx
            if isinstance(last_idx, int) and last_idx <= -2
            else 0
        )
        self.lastn: list[dict] | None = [] if self.lastn_n else None
        self.value = None
        self.text_buf = None
        self.text_depth = None
        self.html_buf = None  # serialized inner-HTML chunks (@html)
        self.html_depth = None
        self.html_open: list[str] = []  # open non-void tags inside buf
        self.dead_at = None  # shallowest closed @eq anchor stage
        if not stages:  # project from the container element itself
            if proj == "text":
                if container_void:
                    self.value = ""
                else:
                    self.text_buf = []
                    self.text_depth = container_depth
            elif proj == "html":
                if container_void:
                    self.value = ""
                else:
                    self.html_buf = []
                    self.html_depth = container_depth
                    self.html_open = []
            else:
                self.value = container_attrs.get(proj, "")

    def _anchor(self, t: int, depth: int, void: bool, attrs: dict):
        self.anchors.append(_VOID_DEPTH if void else depth)
        if t == len(self.stages) - 1:  # final segment → projection
            if self.proj == "text":
                if void:
                    self.value = ""
                    self.text_buf = None
                else:
                    self.text_buf = []
                    self.text_depth = depth
            elif self.proj == "html":
                if void:
                    self.value = ""
                    self.html_buf = None
                else:
                    self.html_buf = []
                    self.html_depth = depth
                    self.html_open = []
            else:
                self.value = attrs.get(self.proj, "")

    def _push_candidate(self, depth: int, void: bool, attrs: dict):
        """One final-segment @eq(-n) match → a self-contained candidate
        projection (own value/text/html buffer, sealed at its own
        depth). Ring-bounded at n: the oldest retained candidate is the
        n-th-from-end once the stream ends."""
        c = {"value": None, "tbuf": None, "tdepth": None,
             "hbuf": None, "hdepth": None, "hopen": None}
        if self.proj == "text":
            if void:
                c["value"] = ""
            else:
                c["tbuf"] = []
                c["tdepth"] = depth
        elif self.proj == "html":
            if void:
                c["value"] = ""
            else:
                c["hbuf"] = []
                c["hdepth"] = depth
                c["hopen"] = []
        else:
            c["value"] = attrs.get(self.proj, "")
        self.lastn.append(c)
        if len(self.lastn) > self.lastn_n:
            self.lastn.pop(0)

    def on_markup(self, tag: str, attrs: dict, void: bool):
        """Serialize one start-tag event into every ACTIVE @html buffer
        (the anchored one and/or live last-n candidates; no-op when
        none is live — every appended event is strictly inside its
        buffer's element, since buffers seal the moment that element
        closes and feed() anchors only AFTER this routing). Independent
        streaming twin of css.node_html's tree walk: same canonical
        form, no tree."""
        for ch in self.children:
            ch.on_markup(tag, attrs, void)
        bufs = []
        if self.html_buf is not None:
            bufs.append((self.html_buf, self.html_open))
        if self.lastn:
            for c in self.lastn:
                if c["hbuf"] is not None:
                    bufs.append((c["hbuf"], c["hopen"]))
        if not bufs:
            return
        a = "".join(
            f' {k}="{_oracle_esc_attr(v)}"' for k, v in attrs.items()
        )
        if tag in _ORACLE_VOID:
            piece, opened = f"<{tag}{a}/>", None
        elif void:  # <foo/> on a non-void tag: childless element
            piece, opened = f"<{tag}{a}></{tag}>", None
        else:
            piece, opened = f"<{tag}{a}>", tag
        for buf, op in bufs:
            buf.append(piece)
            if opened is not None:
                op.append(opened)

    def feed(self, path, depth, void, attrs, container_depth):
        if self.closed:
            return
        # live each-children progress on every element event (a child
        # spawned for THIS element is appended below, after forwarding,
        # so it never sees its own anchor)
        for ch in self.children:
            ch.feed(path, depth, void, attrs, ch.container_depth)
        if not self.stages:
            return
        t = 0
        while t < len(self.stages):
            if t > len(self.anchors):
                return
            chains, idx = self.stages[t]
            floor = container_depth if t == 0 else self.anchors[t - 1]
            if isinstance(idx, tuple):
                # @each: never anchors — every in-scope match spawns an
                # independent child machine over the chain tail, scoped
                # to the matched element (void anchor → floor no real
                # element exceeds: Find inside a void element is empty)
                if self.dead_at is not None:
                    return  # an @eq ancestor closed — frozen
                if _oracle_any_match(path, chains, floor):
                    self.children.append(
                        _FieldMachine(
                            self.stages[t + 1 :], self.proj,
                            _VOID_DEPTH if void else depth, attrs, void,
                        )
                    )
                return
            if idx == -1:
                # @last: ANY later match re-anchors, wiping deeper
                # progress and the captured value (the chain below the
                # new anchor starts over — goquery re-runs the Finds)
                if _oracle_any_match(path, chains, floor):
                    del self.anchors[t:]
                    for u in range(t + 1, len(self.stages)):
                        self.counts[u] = 0
                    self.dead_at = None
                    self.value = None
                    self.text_buf = None
                    self.html_buf = None
                    self.html_open = []
                    if self.lastn is not None:
                        self.lastn = []
                    # a downstream @each's spawned children belong to
                    # the discarded chain run (goquery re-runs the
                    # Finds below the new anchor)
                    self.children = []
                    self._anchor(t, depth, void, attrs)
                    return
                if t == len(self.anchors):
                    return
                t += 1
            elif self.proj == "count" and t == len(self.stages) - 1:
                # @count (goquery .Length()): the final segment never
                # anchors — every match within the anchored chain bumps
                # the counter; an earlier @last re-anchor resets it
                if self.dead_at is not None:
                    return  # an @eq ancestor closed — frozen
                if _oracle_any_match(path, chains, floor):
                    self.counts[t] += 1
                return
            elif idx <= -2:
                # final-segment from-end @eq(-n): never anchors — every
                # match pushes a candidate into the bounded ring
                if self.dead_at is not None:
                    return  # an @eq ancestor closed — frozen
                if _oracle_any_match(path, chains, floor):
                    self._push_candidate(depth, void, attrs)
                return
            else:
                if t == len(self.anchors):  # the segment being sought
                    if self.dead_at is not None:
                        return  # its @eq ancestor chain closed — frozen
                    if _oracle_any_match(path, chains, floor):
                        self.counts[t] += 1
                        if self.counts[t] - 1 == idx:
                            self._anchor(t, depth, void, attrs)
                    return
                t += 1  # anchored @eq: choice is fixed, look deeper

    def on_close(self, new_depth: int):
        for ch in self.children:
            ch.on_close(new_depth)
            if ch.container_depth >= new_depth:
                # the child's anchor element closed: seal it — a later
                # sibling must not anchor into it (top-level captures
                # get this from finalize-on-container-close)
                ch.closed = True
        if self.text_buf is not None and self.text_depth >= new_depth:
            self.value = "".join(self.text_buf)
            self.text_buf = None
        if self.html_buf is not None:
            # elements inside the buffer occupy stack indices
            # html_depth+1 .. ; a pop to new_depth implies their close
            # tags (tag soup gets its implied close exactly where the
            # tree builder's stack pops it — same canonical output)
            keep = max(0, new_depth - 1 - self.html_depth)
            while len(self.html_open) > keep:
                self.html_buf.append(f"</{self.html_open.pop()}>")
            if self.html_depth >= new_depth:  # anchored element closed
                self.value = "".join(self.html_buf)
                self.html_buf = None
        if self.lastn:
            for c in self.lastn:
                if c["tbuf"] is not None and c["tdepth"] >= new_depth:
                    c["value"] = "".join(c["tbuf"])
                    c["tbuf"] = None
                if c["hbuf"] is not None:
                    keep = max(0, new_depth - 1 - c["hdepth"])
                    while len(c["hopen"]) > keep:
                        c["hbuf"].append(f"</{c['hopen'].pop()}>")
                    if c["hdepth"] >= new_depth:
                        c["value"] = "".join(c["hbuf"])
                        c["hbuf"] = None
        while self.anchors and self.anchors[-1] >= new_depth:
            t = len(self.anchors) - 1
            self.anchors.pop()
            if self.stages[t][1] >= 0:
                self.dead_at = t

    def on_data(self, data: str, esc_cache: list):
        """Character data into every live buffer (own, last-n
        candidates, and each-children, recursively). ``esc_cache`` is a
        shared one-slot list so the escaped form is computed at most
        once per data event across all machines."""
        if self.text_buf is not None:
            self.text_buf.append(data)
        elif self.html_buf is not None:
            if esc_cache[0] is None:
                esc_cache[0] = _oracle_esc_text(data)
            self.html_buf.append(esc_cache[0])
        if self.lastn:
            for c in self.lastn:
                if c["tbuf"] is not None:
                    c["tbuf"].append(data)
                elif c["hbuf"] is not None:
                    if esc_cache[0] is None:
                        esc_cache[0] = _oracle_esc_text(data)
                    c["hbuf"].append(esc_cache[0])
        for ch in self.children:
            ch.on_data(data, esc_cache)

    def result(self) -> str:
        if self.each_at is not None:
            # @each: per-match chain-tail values joined in document
            # order (empty selection → '', the join of nothing)
            return self.each_sep.join(c.result() for c in self.children)
        if self.proj == "count":  # stages always non-empty (parse)
            return str(self.counts[-1])
        if self.lastn_n:
            # last n matches retained; n-th-from-end exists iff the
            # ring filled (>= n matches) and is then its oldest entry
            if len(self.lastn) < self.lastn_n:
                return ""
            c = self.lastn[0]
            if c["tbuf"] is not None:  # sealed at EOF
                return "".join(c["tbuf"])
            if c["hbuf"] is not None:  # EOF with unclosed elements
                while c["hopen"]:
                    c["hbuf"].append(f"</{c['hopen'].pop()}>")
                return "".join(c["hbuf"])
            return c["value"] if c["value"] is not None else ""
        if self.text_buf is not None:  # sealed at EOF / container close
            return "".join(self.text_buf)
        if self.html_buf is not None:  # EOF with unclosed elements
            while self.html_open:
                self.html_buf.append(f"</{self.html_open.pop()}>")
            return "".join(self.html_buf)
        return self.value if self.value is not None else ""


class _CssCapture:
    __slots__ = ("seq", "depth", "fields", "machines")

    def __init__(self, seq: int, depth: int, projections, attrs: dict,
                 void: bool):
        self.seq = seq
        self.depth = depth  # stack index of the container element
        self.fields = [f for f, _s, _p in projections]
        self.machines = [
            _FieldMachine(stages, proj, depth, attrs, void)
            for _f, stages, proj in projections
        ]


def _css_items(text: str, er) -> list[dict]:
    from html.parser import HTMLParser

    container = _oracle_parse_selector(er.item_pattern)
    fc = dict(getattr(er, "field_css", ()) or ())
    projections = []
    root_projs = []  # ^-anchored: once per page, from the document
    for f in er.fields:
        spec = fc.get(f, "@text")
        if spec.startswith("^"):
            root_projs.append(
                (f,) + _oracle_parse_field_spec(spec[1:])
            )
        else:
            projections.append(
                (f,) + _oracle_parse_field_spec(spec)
            )
    # page-level machines for root-anchored fields: floored at -1 (the
    # virtual document container), live from the first event
    root_machines = [
        (f, _FieldMachine(stages, proj, -1, {}, False))
        for f, stages, proj in root_projs
    ]

    done: list[tuple[int, dict]] = []
    captures: list[_CssCapture] = []
    stack: list[tuple] = []  # (tag, attrs, child_pos)
    counters = [0]  # element-children count per open element (+root)
    seq_counter = [0]

    def finalize(cap: _CssCapture):
        done.append(
            (cap.seq, {f: m.result() for f, m in zip(cap.fields, cap.machines)})
        )

    def on_element(tag: str, attr_list, void: bool):
        amap: dict = {}
        for k, v in attr_list:
            k = k.lower()
            if k not in amap:
                amap[k] = v if v is not None else ""
        counters[-1] += 1
        el = (tag, amap, counters[-1])
        path = stack + [el]
        depth = len(stack)
        # stream this start tag into buffers opened by EARLIER events
        # first (a buffer never includes its own anchor element; feed()
        # below may anchor/re-anchor machines on THIS element, and a
        # @last re-anchor wipes the buffer we just appended to — the
        # fresh capture correctly starts empty)
        for _f, m in root_machines:
            m.on_markup(tag, amap, void)
        for cap in captures:
            for m in cap.machines:
                m.on_markup(tag, amap, void)  # no-op when no live buffer
        # feed existing captures' field machines (+ the page-level
        # root-anchored machines, floored at the virtual document)
        for _f, m in root_machines:
            m.feed(path, depth, void, amap, -1)
        for cap in captures:
            for m in cap.machines:
                m.feed(path, depth, void, amap, cap.depth)
        # container match opens a new capture (void → immediate item)
        if _oracle_any_match(path, container, -1):
            cap = _CssCapture(seq_counter[0], depth, projections, amap, void)
            seq_counter[0] += 1
            if void:
                finalize(cap)
            else:
                captures.append(cap)
        if not void:
            stack.append(el)
            counters.append(0)

    class _P(HTMLParser):
        def handle_starttag(self, tag, attrs):
            on_element(tag.lower(), attrs, tag.lower() in _ORACLE_VOID)

        def handle_startendtag(self, tag, attrs):
            on_element(tag.lower(), attrs, True)

        def handle_endtag(self, tag):
            tag = tag.lower()
            for i in range(len(stack) - 1, -1, -1):
                if stack[i][0] == tag:
                    del stack[i:]
                    del counters[i + 1 :]
                    break
            new_depth = len(stack)
            for _f, m in root_machines:
                m.on_close(new_depth)
            for cap in list(captures):
                if cap.depth >= new_depth:
                    for m in cap.machines:
                        m.on_close(new_depth)
                    finalize(cap)
                    captures.remove(cap)
                else:
                    for m in cap.machines:
                        m.on_close(new_depth)

        def handle_data(self, data):
            if not data:
                return
            esc_cache = [None]
            for _f, m in root_machines:
                m.on_data(data, esc_cache)
            for cap in captures:
                for m in cap.machines:
                    m.on_data(data, esc_cache)

    p = _P(convert_charrefs=True)
    p.feed(text)
    p.close()
    for cap in list(captures):  # unclosed containers at EOF
        finalize(cap)
    done.sort(key=lambda t: t[0])
    rows = [row for _s, row in done]
    if root_machines:
        root_vals = {f: m.result() for f, m in root_machines}
        order = list(er.fields)
        rows = [
            {
                f: (root_vals[f] if f in root_vals else row[f])
                for f in order
            }
            for row in rows
        ]
    return rows


def oracle_main_content(html_text: str) -> str:
    """Independent twin of ``functions.content.common_parse``
    (commonPrase/findP, baidunews.go:183-216) — TWO-PASS SAX, no tree.

    Pass 1 streams start/end events over an open-element stack of
    ordinals: each ``<p>`` start flags every currently-open ancestor
    ordinal ("subtree contains a p"), each h1/h2/h3 start snapshots its
    ancestor-ordinal chain (last occurrence per level wins, tracked
    both body-scoped and unscoped for the fragment case), and the first
    body-inside-body ordinal is kept for the reference's
    ``body.Find("body")`` no-headings fallback. The findP climb then
    runs over the recorded chain and flags — pure dict lookups, no
    nodes. Pass 2 re-streams and serializes the chosen ordinal's inner
    HTML in the shared canonical form (implied closes where the stack
    pops, same as the @html machinery)."""
    from html.parser import HTMLParser

    VROOT = -1  # the engine's synthetic #root
    tags: dict[int, str] = {}
    has_p: set[int] = set()
    last_in_body: dict = {"h1": None, "h2": None, "h3": None}
    last_any: dict = {"h1": None, "h2": None, "h3": None}
    nested_body = [None]
    saw_body = [False]
    stack: list[int] = []
    eid = [0]

    def p1_start(tag: str, void: bool):
        this = eid[0]
        eid[0] += 1
        tags[this] = tag
        if tag == "p":
            has_p.update(stack)
        if tag == "body":
            saw_body[0] = True
            if nested_body[0] is None and any(
                tags[e] == "body" for e in stack
            ):
                nested_body[0] = this
        if tag in last_any:
            rec = (this, tuple(stack))
            last_any[tag] = rec
            if any(tags[e] == "body" for e in stack):
                last_in_body[tag] = rec
        if not void:
            stack.append(this)

    class _P1(HTMLParser):
        def handle_starttag(self, tag, attrs):
            p1_start(tag.lower(), tag.lower() in _ORACLE_VOID)

        def handle_startendtag(self, tag, attrs):
            p1_start(tag.lower(), True)

        def handle_endtag(self, tag):
            tag = tag.lower()
            for i in range(len(stack) - 1, -1, -1):
                if tags[stack[i]] == tag:
                    del stack[i:]
                    break

    p1 = _P1(convert_charrefs=True)
    p1.feed(html_text)
    p1.close()

    has_body = saw_body[0]
    heads = last_in_body if has_body else last_any
    chosen = None
    for level in ("h1", "h2", "h3"):
        rec = heads[level]
        if rec is None:
            continue
        node, chain = rec
        idx = len(chain) - 1
        # findP: current-is-body terminal first, then parent-subtree-p
        while True:
            if tags.get(node) == "body" or (
                not has_body and node == VROOT
            ):
                chosen = node
                break
            parent = chain[idx] if idx >= 0 else VROOT
            if parent == VROOT:
                chosen = VROOT  # document node (reference: net/html doc)
                break
            if parent in has_p:
                chosen = parent
                break
            node = parent
            idx -= 1
        break
    else:
        if nested_body[0] is None:
            return ""  # empty selection → Html() == "" (property.go)
        chosen = nested_body[0]

    # ---- pass 2: serialize chosen ordinal's inner HTML --------------
    buf: list[str] = []
    open_tags: list[str] = []
    state = {"eid": 0, "active": chosen == VROOT, "depth": -1, "done": False}
    stack2: list[str] = []

    def p2_start(tag: str, attr_list, void: bool, explicit_close: bool):
        this = state["eid"]
        state["eid"] += 1
        if state["active"] and not state["done"]:
            amap: dict = {}
            for k, v in attr_list:
                k = k.lower()
                if k not in amap:
                    amap[k] = v if v is not None else ""
            a = "".join(
                f' {k}="{_oracle_esc_attr(v)}"' for k, v in amap.items()
            )
            if tag in _ORACLE_VOID:
                buf.append(f"<{tag}{a}/>")
            elif explicit_close:
                buf.append(f"<{tag}{a}></{tag}>")
            else:
                buf.append(f"<{tag}{a}>")
                open_tags.append(tag)
        elif this == chosen and not state["done"]:
            if void:  # void/self-closed target: inner HTML is empty
                state["done"] = True
            else:
                state["active"] = True
                state["depth"] = len(stack2)
        if not void:
            stack2.append(tag)

    class _P2(HTMLParser):
        def handle_starttag(self, tag, attrs):
            t = tag.lower()
            p2_start(t, attrs, t in _ORACLE_VOID, False)

        def handle_startendtag(self, tag, attrs):
            p2_start(tag.lower(), attrs, True, True)

        def handle_endtag(self, tag):
            tag = tag.lower()
            for i in range(len(stack2) - 1, -1, -1):
                if stack2[i] == tag:
                    del stack2[i:]
                    break
            if state["active"] and not state["done"]:
                new_depth = len(stack2)
                keep = max(0, new_depth - 1 - state["depth"])
                while len(open_tags) > keep:
                    buf.append(f"</{open_tags.pop()}>")
                if state["depth"] >= new_depth:  # chosen element closed
                    state["done"] = True

        def handle_data(self, data):
            if data and state["active"] and not state["done"]:
                buf.append(_oracle_esc_text(data))

    p2 = _P2(convert_charrefs=True)
    p2.feed(html_text)
    p2.close()
    while open_tags:  # EOF with unclosed buffered elements
        buf.append(f"</{open_tags.pop()}>")
    return "".join(buf)


def _xml_items(text: str, er) -> list[dict]:
    """Independent second implementation of the ``kind="xml"``
    ExtractRule (the engine builds an ElementTree and walks it,
    extract.apply_rule_spec; this one is a single-pass expat SAX
    matcher with a path stack and no tree — the same
    two-distinct-algorithms property the css kinds have).

    Semantics (encoding/xml parity, baidunews.go:53-66): the dot-path
    is root-relative (document element excluded); one item per path
    match; a field is the LAST direct child element of that name
    (scalar overwrite-on-repeat) and its value is DIRECT character
    data only (saveData-at-depth-1). Malformed XML → no items
    (baidunews.go:118-120)."""
    from xml.parsers import expat

    path = [p for p in er.item_pattern.split(".") if p]
    if not path:
        return []
    fields = frozenset(er.fields)
    items: list[dict] = []
    stack: list[str] = []  # names below the document element
    st = {
        "root_open": False,  # document element seen
        "cur": None,  # dict while inside a path match
        "fbuf": None,  # chardata chunks of the open field element
        "fname": None,
        "fdepth": 0,  # nesting below the open field element
    }

    def start(name, _attrs):
        if not st["root_open"]:
            st["root_open"] = True
            return
        stack.append(name)
        if st["fname"] is not None:
            st["fdepth"] += 1  # nested element inside a field: skipped
        elif stack == path:
            st["cur"] = {}
        elif (
            st["cur"] is not None
            and len(stack) == len(path) + 1
            and name in fields
        ):
            st["fname"] = name
            st["fbuf"] = []

    def end(_name):
        if st["fname"] is not None:
            if st["fdepth"] > 0:
                st["fdepth"] -= 1
            else:
                st["cur"][st["fname"]] = "".join(st["fbuf"])
                st["fname"] = None
                st["fbuf"] = None
        elif st["cur"] is not None and stack == path:
            items.append({f: st["cur"].get(f, "") for f in er.fields})
            st["cur"] = None
        if stack:
            stack.pop()

    def chardata(data):
        if st["fname"] is not None and st["fdepth"] == 0:
            st["fbuf"].append(data)

    p = expat.ParserCreate()
    p.StartElementHandler = start
    p.EndElementHandler = end
    p.CharacterDataHandler = chardata
    try:
        p.Parse(text, True)
    except expat.ExpatError:
        return []  # Unmarshal-err parity: emit nothing
    return items


def _oracle_file_name(url: str, name_or_ext: str = "") -> str:
    """Independent twin of ``sinks.file_output_name`` — the
    ``ctx.FileOutput(nameOrExt)`` name derivation
    (`app/spider/context.go:259-279`), restated with regex splits and
    ``posixpath`` instead of the engine's rfind/substring arithmetic."""
    import posixpath
    import re as re_mod

    def split_ext(n: str) -> tuple[str, str]:
        # Go path.Ext: suffix from the FINAL dot ('' when dotless)
        m = re_mod.search(r"\.[^.]*$", n)
        return (n[: m.start()], m.group(0)) if m else (n, "")

    seg = re_mod.sub(r"\?.*$", "", url.rsplit("/", 1)[-1])
    u_stem, u_ext = split_ext(seg)
    base = ext = ""
    if name_or_ext:
        d, leaf = posixpath.split(name_or_ext)
        a_stem, ext = split_ext(leaf)
        if a_stem:
            base = (d + "/" if d else "") + a_stem
    if not base:
        base = u_stem
    if not ext:
        ext = u_ext or ".html"
    return base + ext


def _oracle_transform_value(v: str, ops: tuple, temp=None) -> str:
    """Independent interpreter for ``ExtractRule.field_transforms``
    (spiderspec documents the op grammar; the engine compiles the same
    spec into closures in extract.compile_transforms — this one
    evaluates op tuples directly per value)."""
    import re as re_mod

    for op in ops:
        name = op[0]
        if name == "trim":
            v = v.strip(op[1]) if len(op) > 1 else v.strip()
        elif name == "trim_left":
            v = v.lstrip(op[1])
        elif name == "trim_right":
            v = v.rstrip(op[1])
        elif name == "replace":
            count = op[3] if len(op) > 3 else -1
            v = v.replace(op[1], op[2], count)
        elif name in ("split_pick", "fields_pick"):
            if name == "split_pick":
                parts, i, rest = v.split(op[1]), op[2], op[3:]
            else:
                parts, i, rest = v.split(), op[1], op[2:]
            expect = rest[0] if rest else None
            on_mismatch = rest[1] if len(rest) > 1 else "keep"
            n = len(parts)
            if expect is not None:
                hit = n == expect
            else:
                hit = (0 <= i < n) or (i < 0 and n + i >= 0)
            if hit:
                v = parts[i]
            elif on_mismatch != "keep":
                v = ""
        elif name == "regex_sub":
            count = op[3] if len(op) > 3 else 0
            v = re_mod.sub(op[1], op[2], v, count=count, flags=re_mod.S)
        elif name == "regex_find":
            g = op[2] if len(op) > 2 else 0
            m = re_mod.search(op[1], v, flags=re_mod.S)
            v = (m.group(g) or "") if m else ""
        elif name == "default":
            v = v if v else op[1]
        elif name == "prefix":
            v = op[1] + v
        elif name == "suffix":
            v = v + op[1]
        elif name in ("temp_prefix", "temp_suffix"):
            tval = str((temp or {}).get(op[1]) or "")
            v = tval + v if name == "temp_prefix" else v + tval
        elif name in ("int_add", "ceil_div"):
            # Go strconv.Atoi with ignored error (parse failure → 0);
            # independent parse (sign-split digit check) vs the
            # engine's anchored regex
            body = v[1:] if v[:1] in ("+", "-") else v
            n = (
                int(v)
                if body and body.isascii() and body.isdigit()
                else 0
            )
            if name == "int_add":
                v = str(n + op[1])
            else:
                import math as math_mod

                v = str(math_mod.ceil(n / op[1]))
        elif name == "clean_html":
            # common.go:18-41 CleanHtml, interpreted inline (the engine
            # twin precompiles the chain in extract.clean_html_py)
            d = op[1] if len(op) > 1 else 5
            if d > 0:
                v = re_mod.sub(
                    r"<[\S\s]+?>", lambda m: m.group(0).lower(), v
                )
            if d > 1:
                v = re_mod.sub(r"<style[\S\s]+?</style>", "", v)
            if d > 2:
                v = re_mod.sub(r"<script[\S\s]+?</script>", "", v)
            if d > 3:
                v = re_mod.sub(r"<[\S\s]+?>", "\n", v)
            if d > 4:
                v = re_mod.sub(r"\s{2,}", "\n", v)
        elif name == "main_content":
            # commonPrase/findP via the two-pass SAX twin (the engine
            # walks the css.py tree in functions.content.common_parse)
            v = oracle_main_content(v)
        else:
            raise ValueError(f"unknown transform op {name!r}")
    return v


def _transform_items(items: list[dict], er, temp=None) -> list[dict]:
    """field_transforms over freshly-extracted items — runs BEFORE the
    crawl loop's temp merge / carry / link / paginate reads, mirroring
    the engine's ordering in extract._apply_rules_for."""
    # item_slice: Each-loop ordinal gates over RAW matches in document
    # order (kaola.go:49-50, IJGUC.go:75) — before transforms/guards
    islice = tuple(getattr(er, "item_slice", ()) or ())
    if islice:
        # (start[, stop[, step]]) — bare slice(*t) would read a 1-tuple
        # as stop
        items = items[
            slice(
                islice[0],
                islice[1] if len(islice) > 1 else None,
                islice[2] if len(islice) > 2 else None,
            )
        ]
    # const_fields: literal output columns, before transforms
    for f, v in tuple(getattr(er, "const_fields", ()) or ()):
        for it in items:
            it[f] = v
    specs = tuple(getattr(er, "field_transforms", ()) or ())
    for field, ops in specs:
        for it in items:
            if field in it:
                it[field] = _oracle_transform_value(it[field], ops, temp)
    # require_fields guard (baidusearch.go:46-48 skip-before-Output):
    # an item with any required field empty vanishes — no output, no
    # AddQueue children, no paginate count. Post-transforms,
    # pre-temp-merge, mirroring extract._apply_rules_for.
    req = tuple(getattr(er, "require_fields", ()) or ())
    if req:
        items = [it for it in items if all(it.get(f) for f in req)]
    # forbid_fields: inverse guard — any NON-empty listed field drops
    # the item (wangyi.go:119-128, alibaba.go:63-75 branch pairs)
    forbid = tuple(getattr(er, "forbid_fields", ()) or ())
    if forbid:
        items = [it for it in items if not any(it.get(f) for f in forbid)]
    # require_equals: field must string-equal the request temp's value
    # (car_home.go:55-57 / ganji_gongsi.go:54-56 current-page probe).
    # MUST run BEFORE dynamic_kv, matching the engine's order in
    # extract._apply_rules_for — the guard reads the raw zipped blob
    # fields that dynamic_kv pops
    reqeq = tuple(getattr(er, "require_equals", ()) or ())
    if reqeq:
        items = [
            it
            for it in items
            if all(
                it.get(f, "") == str((temp or {}).get(k) or "")
                for f, k in reqeq
            )
        ]
    # dynamic_kv: zipped runtime columns (UpsertItemField twin)
    dynkv = tuple(getattr(er, "dynamic_kv", ()) or ())
    if dynkv:
        kf, vf, dsep = dynkv
        for it in items:
            ks = (it.pop(kf, "") or "").split(dsep)
            vs = (it.pop(vf, "") or "").split(dsep)
            for k2, v2 in zip(ks, vs):
                if k2:
                    it[k2] = v2
    return items


def _cursor_next(url: str, param: str, value: str) -> str:
    """Cursor follow-up URL, rebuilt structurally: split the query into
    pairs, drop any existing ``param``, append the new one — an
    independent algorithm vs the engine's textual strip-and-append
    (extract.cursor_url)."""
    from urllib.parse import (
        parse_qsl,
        quote,
        urlencode,
        urlsplit,
        urlunsplit,
    )

    parts = urlsplit(url)
    q = [
        (k, v)
        for k, v in parse_qsl(parts.query, keep_blank_values=True)
        if k != param
    ]
    q.append((param, str(value)))
    return urlunsplit(parts._replace(query=urlencode(q, quote_via=quote)))


def _root_json_str(page: dict, path: str) -> str:
    """Page body → root JSON → stringified dot-path value (cursor gate
    twin of extract.json_path_str over the decoded body)."""
    import json as json_mod

    try:
        node = json_mod.loads((page.get("body") or b"").decode("utf-8"))
    except (ValueError, UnicodeDecodeError):
        return ""
    for part in filter(None, path.split(".")):
        if not isinstance(node, dict) or part not in node:
            return ""
        node = node[part]
    if node is None:
        return ""
    if isinstance(node, str):
        return node
    return json_mod.dumps(node, separators=(",", ":"))


def _extract_items(page: dict, er, temp=None) -> list[dict]:
    """Apply one ExtractRule to a fixture page: charset-decode the body,
    regex over the text, one item per match, named groups → fields
    (HTML-unescaped, missing groups → '')."""
    import html as html_mod
    import re as re_mod

    body = page.get("body") or b""
    ct = page.get("content_type") or ""
    # same resolution ladder as the engine's sniff_charset (BOM >
    # Content-Type param (quoted or bare) > <meta charset> in the first
    # 1 KiB > utf-8), written independently: startswith probes + two
    # fresh regexes rather than the engine's table
    if body.startswith(b"\xef\xbb\xbf"):
        charset = "utf-8-sig"
    elif body.startswith(b"\xff\xfe") or body.startswith(b"\xfe\xff"):
        charset = "utf-16"
    else:
        m = re_mod.search(r"charset=['\"]?([\w-]+)", ct, re_mod.I)
        if m:
            charset = m.group(1)
        else:
            mm = re_mod.search(
                r"<meta[^>]+charset=['\"]?([\w-]+)",
                body[:1024].decode("latin-1"),
                re_mod.I,
            )
            charset = mm.group(1) if mm else "utf-8"
        charset = charset.lower()
        if charset in ("gb2312", "gbk", "gb18030"):
            charset = "gb18030"
    try:
        text = body.decode(charset, errors="replace")
    except LookupError:
        text = body.decode("utf-8", errors="replace")
    carve = tuple(getattr(er, "carve", ()) or ())
    if carve:
        # embedded-JSON pre-step twin (taobaosearch.go:146-160): the
        # kind parses the regex-carved span; no match → no items
        cm = re_mod.search(carve[0], text, re_mod.S)
        if cm is None:
            return []
        text = cm.group(carve[1] if len(carve) > 1 else 1) or ""
    if getattr(er, "kind", "regex") == "css":
        return _transform_items(_css_items(text, er), er, temp)
    if getattr(er, "kind", "regex") == "xml":
        return _transform_items(_xml_items(text, er), er, temp)
    if getattr(er, "kind", "regex") == "json":
        # independent re-implementation of the json kind (dot-path to
        # the items array; non-string field values JSON-stringified)
        import json as json_mod

        try:
            node = json_mod.loads(text)
        except ValueError:
            return []
        for part in [p for p in er.item_pattern.split(".") if p]:
            # dict key or decimal LIST ordinal (gjson a.0.b — the
            # hollandandbarrett.go:128 records nesting); try/except
            # index access vs the engine's bounds-checked json_step
            if isinstance(node, dict):
                node = node.get(part)
            elif isinstance(node, list):
                try:
                    node = node[int(part)] if part.isdigit() else None
                except IndexError:
                    node = None
            else:
                node = None
            if node is None:
                return []
        if not isinstance(node, list):
            return []
        fjson = dict(getattr(er, "field_json", ()) or ())

        def _pull(el, f):
            # nested dot-path (field_json, gjson.Get twin): walk with
            # an explicit reduce rather than the engine's loop form
            cur = el
            for part in filter(None, fjson.get(f, f).split(".")):
                if isinstance(cur, dict):
                    cur = cur.get(part)
                elif isinstance(cur, list) and part.isdigit():
                    i = int(part)
                    cur = cur[i] if i < len(cur) else None
                else:
                    cur = None
                if cur is None:
                    return ""
            return (
                cur
                if isinstance(cur, str)
                else ""
                if cur is None
                else json_mod.dumps(cur, separators=(",", ":"))
            )

        out = []
        for el in node:
            if not isinstance(el, dict):
                # scalar-element twin (msg: [html string] —
                # zhihu_bianji.go:112-121): single-field rules only
                if len(er.fields) == 1:
                    out.append(
                        {
                            er.fields[0]: el
                            if isinstance(el, str)
                            else ""
                            if el is None
                            else json_mod.dumps(el, separators=(",", ":"))
                        }
                    )
                continue
            if isinstance(el, dict):
                out.append(
                    {
                        f: (
                            _pull(el, f)
                            if f in fjson
                            else el[f]
                            if isinstance(el.get(f), str)
                            else ""
                            if el.get(f) is None
                            else json_mod.dumps(el[f], separators=(",", ":"))
                        )
                        for f in er.fields
                    }
                )
        return _transform_items(out, er, temp)
    out = []
    for match in re_mod.finditer(er.item_pattern, text, re_mod.S):
        gd = match.groupdict()
        out.append(
            {f: html_mod.unescape(gd.get(f) or "") for f in er.fields}
        )
    return _transform_items(out, er, temp)


def crawl(
    pages_by_url: dict[str, dict],
    images_by_id: dict[str, dict],
    seeds: list[dict],
    robots: list[dict],
    spec: SpiderSpec,
    config: OracleConfig | None = None,
) -> OracleResult:
    config = config or OracleConfig()
    robots_by_host = {r["host"]: r for r in robots}

    def budget(host: str) -> int:
        delay = robots_by_host.get(host, {}).get(
            "crawl_delay_ms", config.default_crawl_delay_ms
        ) or config.default_crawl_delay_ms
        return max(1, config.wave_window_ms // int(delay))

    def robots_allows(host: str, url: str) -> bool:
        # RFC 9309 longest-match-wins, allow on tie — independent
        # re-statement of robots.disallow_filter's broadcast-join form
        r = robots_by_host.get(host, {})
        dis = r.get("disallow_prefixes") or []
        alw = r.get("allow_prefixes") or []
        from urllib.parse import urlsplit

        path = urlsplit(url).path
        dmax = max((len(p) for p in dis if path.startswith(p)), default=None)
        if dmax is None:
            return True
        amax = max((len(p) for p in alw if path.startswith(p)), default=None)
        return amax is not None and amax >= dmax

    seen: set[str] = set()
    temp: set[str] = set()
    queued: list[Req] = []
    failures: dict[str, Req | None] = {}
    failed_final: list[str] = []
    order: list[dict] = []
    items: list[dict] = []
    images: list[dict] = []
    files: list[dict] = []
    metrics: list[dict] = []
    file_rule_args = {
        fr.rule: fr.name_or_ext
        for fr in getattr(spec, "file_rules", ()) or ()
    }
    next_seq = 0
    # maxPage semantics: starts at -limit, each accepted push increments;
    # refused once >= 0 (matrix.go:59-61,97)
    max_page = -spec.limit if spec.limit is not None else None
    dropped = {"robots": 0, "limit": 0, "dup": 0}

    def push(req: Req) -> bool:
        nonlocal next_seq, max_page
        if not robots_allows(req.host, req.url):
            dropped["robots"] += 1
            return False
        if max_page is not None and max_page >= 0:
            dropped["limit"] += 1
            return False
        if not req.reloadable:
            if req.key in seen or req.key in temp:
                dropped["dup"] += 1
                return False
            temp.add(req.key)
        req.seq = next_seq
        next_seq += 1
        queued.append(req)
        if max_page is not None:
            max_page += 1
        return True

    # seeds (keyin fan-out: one spider clone per token, spiderqueue.go:56-90)
    for s in seeds:
        keyins = parse_keyins(s.get("keyin", "") or "") or [""]
        method = (s.get("method", "GET") or "GET").upper()
        for k in keyins:
            url = canonicalize_url_safe(apply_keyin(s["url"], k))
            if url is None:
                continue  # a malformed seed drops, like a malformed href
            spider = fanout_spider_name(s["spider"], k)
            # keyin tokens substitute in temp VALUES too — the
            # reference builds AddQueue Temps from keyin-derived
            # locals (googlesearch.go:89 baseUrl; alibaba's paginate
            # base carries the gbk-escaped keyword)
            seed_temp = {
                tk: apply_keyin(str(tv), k)
                for tk, tv in (s.get("temp") or {}).items()
            } or None
            push(
                Req(
                    spider=spider,
                    rule=s["rule"],
                    url=url,
                    host=host_of(url),
                    method=method,
                    priority=s.get("priority", 0),
                    seq=-1,
                    depth=0,
                    parent_url=None,
                    key=request_key(spider, s["rule"], url, method),
                    reloadable=url in spec.reloadable_urls,
                    temp=seed_temp,
                    post_data=s.get("post_data", "") or "",
                )
            )

    superstep = 0
    while True:
        if not queued:
            pending = [r for r in failures.values() if r is not None]
            if pending and config.requeue_failures:
                # failure-requeue-once (matrix.go:186-202): nil the slot,
                # then re-Push through the normal push path — so history
                # dedup and the limit guard re-apply, and priority is kept
                for r in sorted(pending, key=lambda x: x.seq):
                    failures[r.key] = None
                    r.retried = True
                    push(r)
                if not queued:
                    break
            else:
                break
        superstep += 1
        queued.sort(key=lambda r: (-r.priority, r.seq))
        wave: list[Req] = []
        rest: list[Req] = []
        host_used: dict[str, int] = defaultdict(int)
        for r in queued:
            if host_used[r.host] < budget(r.host):
                host_used[r.host] += 1
                wave.append(r)
            else:
                rest.append(r)
        if config.per_spider_quota is not None:
            # fair share: per-spider cap over the host-budgeted wave,
            # greedy in pull order; overflow returns to the queue
            spider_used: dict[str, int] = defaultdict(int)
            capped: list[Req] = []
            for r in wave:
                if spider_used[r.spider] < config.per_spider_quota:
                    spider_used[r.spider] += 1
                    capped.append(r)
                else:
                    rest.append(r)
            wave = capped
        queued = rest
        fetched = failed = parsed = emitted = 0

        for pos, req in enumerate(wave):
            order.append(
                {
                    "spider": req.spider,
                    "key": req.key,
                    "url": req.url,
                    "superstep": superstep,
                    "wave_pos": pos,
                    "priority": req.priority,
                    "seq": req.seq,
                }
            )
            # POST-body-keyed pages first (fixture post_data column —
            # zhihu_bianji.go POST pagination), plain url fallback
            page = pages_by_url.get(
                (req.url, req.post_data or "")
            ) or pages_by_url.get(req.url)
            fail_n = page.get("fail_attempts") if page else None
            if fail_n is None and page:
                fail_n = 1 if page.get("flaky") else 0
            # header-walled page (require_header "Name: value"): 403
            # unless the request's merged headers — spider-static
            # spec.headers overlaid by the temp's "hdr:" entries, the
            # independent twin of fetch.headers_col — carry it
            header_ok = True
            rh = page.get("require_header") if page else None
            if rh:
                sent = dict(getattr(spec, "headers", ()) or ())
                for k, v in (req.temp or {}).items():
                    if k.startswith("hdr:"):
                        sent[k[4:]] = v
                name, _, val = rh.partition(": ")
                header_ok = sent.get(name) == val
            ok = (
                page is not None
                and header_ok
                and page["status"] < 400
                and (req.tries + 1) * config.try_times > fail_n
            )
            req.tries += 1
            if not req.reloadable:
                temp.discard(req.key)
            if ok:
                fetched += 1
                if not req.reloadable:
                    seen.add(req.key)
                if req.rule == spec.image_rule:
                    image_id = (page.get("image_refs") or [None])[0]
                    images.append(
                        {
                            "image_id": image_id,
                            # no temp carry (e.g. link_fields-enqueued
                            # downloads) → empty caption, like the
                            # engine's coalesce(temp['caption'], '')
                            "caption": (req.temp or {}).get("caption") or "",
                            "url": req.url,
                        }
                    )
                    continue
                if req.rule in file_rule_args:
                    # ctx.FileOutput (context.go:247-284): collect the
                    # raw body as a FileCell, never parse the page
                    files.append(
                        {
                            "rule": req.rule,
                            "url": req.url,
                            "name": _oracle_file_name(
                                req.url, file_rule_args[req.rule]
                            ),
                            "size": len(page.get("body") or b""),
                        }
                    )
                    continue
                parsed += 1
                depth_ok = spec.max_depth is None or req.depth < spec.max_depth
                img_refs = page.get("image_refs") or []
                out_links = page.get("out_links") or []
                # items first (ctx.Output before AddQueue ordering doesn't
                # affect goldens; items only from item_rules)
                if req.rule in spec.item_rules:
                    for image_id in img_refs:
                        img = images_by_id.get(image_id, {})
                        items.append(
                            {
                                "rule": req.rule,
                                "url": req.url,
                                "parent_url": req.parent_url,
                                "data": {
                                    "image_id": image_id,
                                    "caption": img.get("caption", ""),
                                },
                            }
                        )
                        emitted += 1
                # user-authored extraction rules (ExtractRule): one item
                # per regex match over the decoded body; named capture
                # groups → fields (spider.go:48-58 ParseFunc analog)
                dsl_links: list[str] = []
                dsl_carry: dict[str, dict] = {}  # canon url → carry temp
                for er in spec.extract_rules:
                    if er.rule != req.rule:
                        continue
                    # require_equals applies inside _transform_items
                    # (before dynamic_kv, matching the engine order)
                    extracted = _extract_items(page, er, req.temp)
                    # temp_fields consumer merge (ctx.GetTemp in Output,
                    # shunfenghaitao.go:75): request temp overrides any
                    # same-named extracted field
                    for f in tuple(getattr(er, "temp_fields", ()) or ()):
                        for data in extracted:
                            data[f] = str((req.temp or {}).get(f) or "")
                    if getattr(er, "emit", True):
                        # emit=False: ParseFunc without ctx.Output
                        # (baidunews.go:121-136) — links/carries/pages
                        # below still run
                        for data in extracted:
                            items.append(
                                {
                                    # ctx.Parse relabel: out_rule is
                                    # the SetRuleName'd provenance
                                    # (context.go:363, zolpc.go:63)
                                    "rule": getattr(er, "out_rule", None)
                                    or req.rule,
                                    "url": req.url,
                                    "parent_url": req.parent_url,
                                    "data": data,
                                }
                            )
                            emitted += 1
                    # link_fields → AddQueue from rule data
                    # (avatar.go:95-101): per item, per field, appended
                    # after the page's anchors and figure srcs; the
                    # item's carry_fields ride along as the child's
                    # temp (AddQueue Temp map, shunfenghaitao.go:60) —
                    # last emitter wins, mirroring the engine's
                    # (parent, curl) dedup
                    lfs = tuple(getattr(er, "link_fields", ()) or ())
                    cfs = tuple(getattr(er, "carry_fields", ()) or ())
                    for data in extracted:
                        if cfs:
                            carry = {}
                            for f in cfs:
                                src, dst = (f, f) if isinstance(f, str) else f
                                carry[dst] = data.get(src, "")
                        else:
                            carry = None
                        for lf in lfs:
                            v = data.get(lf)
                            if v:
                                link = absolutize_safe(req.url, v)
                                dsl_links.append(link)
                                if carry is not None:
                                    c = canonicalize_url_safe(link)
                                    if c is None:
                                        continue
                                    cc = tuple(
                                        getattr(spec, "carry_concat", ())
                                        or ()
                                    )
                                    if cc and c in dsl_carry:
                                        # page-local accumulate
                                        # (wangyi.go:74-90): listed keys
                                        # concatenate in emission order
                                        merged = dict(dsl_carry[c])
                                        for k2, v2 in carry.items():
                                            if k2 in cc:
                                                merged[k2] = (
                                                    merged.get(k2) or ""
                                                ) + v2
                                        dsl_carry[c] = merged
                                    else:
                                        dsl_carry[c] = carry
                    # cursor pagination twin (wukongwenda.go:125-141):
                    # one follow-up — page URL with the cursor param
                    # rebuilt via parse_qsl (the engine does string
                    # surgery; independent algorithm), gated on the
                    # page-level root value, keyed by the LAST item's
                    # offset field; appended after this rule's
                    # link_fields children
                    cur = tuple(getattr(er, "cursor", ()) or ())
                    if (
                        cur
                        and getattr(er, "kind", "regex") == "json"
                        and extracted
                    ):
                        gate = tuple(
                            getattr(er, "cursor_require", ()) or ()
                        )
                        if not gate or _root_json_str(page, gate[0]) == gate[1]:
                            off = extracted[-1].get(cur[0], "")
                            if off:
                                dsl_links.append(
                                    _cursor_next(req.url, cur[1], off)
                                )
                if not getattr(spec, "follow_anchors", True):
                    # explicit-AddQueue-only port: anchors/figure srcs
                    # never reach the frontier (spiderspec docstring)
                    out_links = []
                    img_refs = []
                if depth_ok:
                    img_link_caption = {}
                    if img_refs:
                        for image_id, link in zip(img_refs, out_links):
                            c = canonicalize_url_safe(link)
                            if c is None:
                                continue
                            img_link_caption[c] = {
                                "caption": images_by_id.get(image_id, {}).get(
                                    "caption", ""
                                ),
                                "image_id": image_id,
                            }
                    for link in list(out_links) + dsl_links:
                        # malformed hrefs in crawled content are dropped,
                        # never fatal (common.go:178-196 MakeUrl ok=false)
                        canon = canonicalize_url_safe(link)
                        if canon is None:
                            continue
                        lr = spec.route(canon)
                        if lr is None:
                            continue
                        child = Req(
                            spider=req.spider,
                            rule=lr.rule,
                            url=canon,
                            host=host_of(canon),
                            method=lr.method,
                            priority=lr.priority,
                            seq=-1,
                            depth=req.depth + 1,
                            parent_url=req.url,
                            # method is part of the identity key — the same
                            # URL under GET and POST is two frontier entries
                            # (request.go:139-145)
                            key=request_key(req.spider, lr.rule, canon, lr.method),
                            reloadable=canon in spec.reloadable_urls,
                            post_data=lr.post_data or "",
                            # rule-authored carry replaces the figure
                            # carry when present (engine: coalesce)
                            temp=dsl_carry.get(canon)
                            or img_link_caption.get(canon),
                        )
                        push(child)
                    # PaginateRule expansion (Aid-loop pagination,
                    # miyabaobei.go:86-105): pushed AFTER the page's
                    # anchors / figure srcs / link_fields children, in
                    # (item order, page asc) — mirrors the engine's
                    # per-item ordinal blocks. ctx.Aid names the rule:
                    # LinkRule routing is bypassed.
                    for pr in getattr(spec, "paginate_rules", ()) or ():
                        if pr.rule != req.rule:
                            continue
                        pag_items: list[dict] = []
                        for er in spec.extract_rules:
                            if er.rule == pr.rule:
                                ex = _extract_items(page, er, req.temp)
                                # require_equals already gated inside
                                # _transform_items (engine order)
                                # same temp merge the emission path does:
                                # count/base/carry fields may be
                                # GetTemp-sourced (taobao.go:206-211)
                                for f in tuple(
                                    getattr(er, "temp_fields", ()) or ()
                                ):
                                    for data in ex:
                                        data[f] = str(
                                            (req.temp or {}).get(f) or ""
                                        )
                                pag_items.extend(ex)
                        pag_cfs = tuple(
                            getattr(pr, "carry_fields", ()) or ()
                        )
                        for data in pag_items:
                            try:
                                cnt = int(data.get(pr.count_field, ""))
                            except ValueError:
                                continue  # strconv.Atoi err → no pages
                            last = (
                                min(cnt, pr.max_pages)
                                if pr.max_pages is not None
                                else cnt
                            )
                            base = (
                                (data.get(pr.base_field) or req.url)
                                if pr.base_field is not None
                                else req.url
                            )
                            _mult, _add = (
                                getattr(pr, "page_expr", (1, 0)) or (1, 0)
                            )
                            for i in range(pr.start, last + 1):
                                pg = _mult * i + _add
                                u = (
                                    pr.url_template % (base, pg)
                                    if "%s" in pr.url_template
                                    else pr.url_template % pg
                                )
                                canon = canonicalize_url_safe(u)
                                if canon is None:
                                    continue
                                push(
                                    Req(
                                        spider=req.spider,
                                        rule=pr.target_rule,
                                        url=canon,
                                        host=host_of(canon),
                                        method=pr.method,
                                        priority=pr.priority,
                                        seq=-1,
                                        depth=req.depth + 1,
                                        parent_url=req.url,
                                        key=request_key(
                                            req.spider,
                                            pr.target_rule,
                                            canon,
                                            pr.method,
                                        ),
                                        reloadable=canon
                                        in spec.reloadable_urls,
                                        # PaginateRule.carry_fields: the
                                        # grown Temp rides the next-page
                                        # AddQueue (taobao.go:244-250)
                                        temp=(
                                            {
                                                (
                                                    c
                                                    if isinstance(c, str)
                                                    else c[1]
                                                ): data.get(
                                                    c
                                                    if isinstance(c, str)
                                                    else c[0],
                                                    "",
                                                )
                                                for c in pag_cfs
                                            }
                                            if pag_cfs
                                            else None
                                        ),
                                    )
                                )
            else:
                failed += 1
                if req.key in failures:  # second failure → permanent
                    failed_final.append(req.key)
                else:
                    failures[req.key] = req
        metrics.append(
            {
                "superstep": superstep,
                "fetched": fetched,
                "failed": failed,
                "parsed": parsed,
                "items": emitted,
                "wave_size": len(wave),
            }
        )

    return OracleResult(
        seen=seen,
        order=order,
        items=items,
        images=images,
        failed_final=failed_final,
        files=files,
        metrics=metrics,
        dropped_robots=dropped["robots"],
        dropped_limit=dropped["limit"],
        dropped_dup=dropped["dup"],
    )
