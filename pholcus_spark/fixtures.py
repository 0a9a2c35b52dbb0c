"""Deterministic synthetic crawl corpus (seed=42, no network).

Generates the fixture tables from FIXTURES.md:

* ``pages``  — the synthetic web graph; the test-mode fetch stage is an
  equi-join ``frontier.url == pages.url`` (replacing the reference's
  Surf HTTP downloader, ``app/downloader/surfer/surf.go:52-155``).
* ``images`` — the north-rule payload table
  ``(image_id, bytes, w, h, fmt, caption, phash)``; phash is computed
  from the *stored* (decoded) bytes, while ``images_truth`` keeps the
  original pixels for the PSNR invariant (lossy rows store a quantized
  copy, so PSNR is finite but ≥ 40 dB by construction).
* ``seeds``  — the reference seed list (spider, url, rule, priority).
* ``robots`` — per-host disallow prefixes + crawl-delay budgets
  [NORTH-RULE EXTENSION — absent in the reference].

Page URLs follow three patterns that double as the rule router
(mirroring how reference rules choose the child rule name at AddQueue,
``app/spider/context.go:104-125``): ``/p/``→list, ``/d/``→detail,
``/img/``→image.

HTML bodies embed ``<a href>`` out-links (some relative, some
duplicated, some cross-host) and ``<figure><img src><p class=caption>``
pairs; ``out_links`` / ``image_refs`` columns carry pre-extracted ground
truth for the pure-Python oracle, which must not depend on the engine's
HTML parser.
"""

from __future__ import annotations

import dataclasses
import html as html_mod

import numpy as np

from .imaging import encode_png, phash64, quantize, synth_pixels
from .session import local_frame

SEED = 42

_CAPTION_VOCAB = [
    "a red square on a hill",
    "two cats sleeping in the sun",
    "skyline at dusk with neon signs",
    "手工陶瓷茶杯特写",  # unicode (CJK) caption
    "ein alter Leuchtturm im Nebel",
    "",  # empty-string caption case
    "macro shot of dew on a leaf — 50mm",
    "aerial view of terraced rice fields",
]


@dataclasses.dataclass
class SiteSpec:
    """Knobs for one synthetic site graph."""

    n_hosts: int = 4
    branch: int = 3  # b-ary tree of list pages per host
    list_pages: int = 13  # list pages per host (tree nodes)
    details_per_list: int = 2
    images_per_detail: int = 2
    hot_host: bool = False  # host 0 gets 5x the pages (skew scenario)
    fail_404_rate: float = 0.04  # permanent failures among detail pages
    flaky_rate: float = 0.05  # fail-once-then-succeed among list pages
    gbk_rate: float = 0.05  # charset=gbk html pages
    lossy_rate: float = 0.3  # images stored as quantized ("lossy") copies
    cross_host_every: int = 7
    robots_disallow: dict[str, list[str]] | None = None  # host -> prefixes
    robots_allow: dict[str, list[str]] | None = None  # host -> carve-outs
    crawl_delay_ms: dict[str, int] | None = None  # host -> delay
    default_crawl_delay_ms: int = 375  # = 1.25 × reference Pausetime 300ms
    image_sizes: tuple[int, ...] = (32, 64, 128)  # candidate px dims

    def host(self, i: int) -> str:
        return f"h{i:03d}.test"


@dataclasses.dataclass
class Corpus:
    pages: list[dict]
    images: list[dict]
    images_truth: list[dict]  # image_id, orig_png(bytes), lossy(bool)
    seeds: list[dict]
    robots: list[dict]

    def pages_by_url(self) -> dict[str, dict]:
        """Oracle-side page index: POST-body-keyed pages (non-empty
        ``post_data``) key as ``(url, post_data)``; plain pages keep
        the bare-url key (and serve any request to the url)."""
        out: dict = {}
        for p in self.pages:
            pd = p.get("post_data", "") or ""
            out[(p["url"], pd) if pd else p["url"]] = p
        return out


def _caption(rng: np.random.Generator, idx: int) -> str:
    base = _CAPTION_VOCAB[idx % len(_CAPTION_VOCAB)]
    if base == "":
        return ""
    return f"{base} #{int(rng.integers(0, 10000)):04d}"


def _html_body(links: list[tuple[str, str]], figures: list[tuple[str, str]], charset: str) -> bytes:
    """links: (href_as_written, anchor_text); figures: (img_src, caption)."""
    parts = [f'<html><head><meta charset="{charset}"></head><body>']
    for href, text in links:
        parts.append(f'<a href="{html_mod.escape(href, quote=True)}">{html_mod.escape(text)}</a>')
    for src, cap in figures:
        parts.append(
            f'<figure><img src="{html_mod.escape(src, quote=True)}">'
            f'<p class="caption">{html_mod.escape(cap)}</p></figure>'
        )
    parts.append("</body></html>")
    doc = "\n".join(parts)
    return doc.encode("gbk" if charset == "gbk" else "utf-8", errors="replace")


def generate(spec: SiteSpec, seed: int = SEED) -> Corpus:
    rng = np.random.default_rng(seed)
    pages: list[dict] = []
    images: list[dict] = []
    images_truth: list[dict] = []
    cap_idx = 0

    for hi in range(spec.n_hosts):
        host = spec.host(hi)
        n_list = spec.list_pages * (5 if (spec.hot_host and hi == 0) else 1)
        for j in range(n_list):
            url = f"http://{host}/p/{j}"
            depth = 0
            jj = j
            while jj > 0:
                jj = (jj - 1) // spec.branch
                depth += 1
            links: list[tuple[str, str]] = []
            truth_links: list[str] = []
            # tree children (list pages) — relative hrefs to exercise urljoin
            for c in range(j * spec.branch + 1, min(j * spec.branch + 1 + spec.branch, n_list)):
                links.append((f"/p/{c}", f"list {c}"))
                truth_links.append(f"http://{host}/p/{c}")
            # detail pages
            for k in range(spec.details_per_list):
                links.append((f"/d/{j}/{k}", f"detail {j}.{k}"))
                truth_links.append(f"http://{host}/d/{j}/{k}")
            # duplicate link back to the seed page (dedup exercise)
            if j > 0:
                links.append(("/p/0", "home"))
                truth_links.append(f"http://{host}/p/0")
            # cross-host link
            if spec.n_hosts > 1 and (hi + j) % spec.cross_host_every == 0:
                other = spec.host((hi + 1) % spec.n_hosts)
                links.append((f"http://{other}/p/1", "partner"))
                truth_links.append(f"http://{other}/p/1")
            charset = "gbk" if rng.random() < spec.gbk_rate else "utf-8"
            flaky = bool(rng.random() < spec.flaky_rate)
            pages.append(
                {
                    "url": url,
                    "host": host,
                    "depth": depth,
                    "status": 200,
                    "flaky": flaky,
                    "content_type": f"text/html; charset={charset}",
                    "body": _html_body(links, [], charset),
                    "out_links": truth_links,
                    "image_refs": [],
                }
            )
            # detail pages for this list page
            for k in range(spec.details_per_list):
                durl = f"http://{host}/d/{j}/{k}"
                figures: list[tuple[str, str]] = []
                img_ids: list[str] = []
                img_links: list[str] = []
                for m in range(spec.images_per_detail):
                    image_id = f"img-{hi:04d}-{j:06d}-{k:02d}{m:02d}"
                    w = int(rng.choice(list(spec.image_sizes)))
                    h = int(rng.choice(list(spec.image_sizes)))
                    orig = synth_pixels(rng, w, h)
                    lossy = bool(rng.random() < spec.lossy_rate)
                    stored_px = quantize(orig, 4) if lossy else orig
                    data = encode_png(stored_px)
                    cap = _caption(rng, cap_idx)
                    cap_idx += 1
                    images.append(
                        {
                            "image_id": image_id,
                            "bytes": data,
                            "w": w,
                            "h": h,
                            "fmt": "png",
                            "caption": cap,
                            "phash": phash64(stored_px),
                        }
                    )
                    images_truth.append(
                        {
                            "image_id": image_id,
                            "orig_png": encode_png(orig),
                            "lossy": lossy,
                        }
                    )
                    iurl = f"http://{host}/img/{image_id}.png"
                    figures.append((iurl, cap))
                    img_ids.append(image_id)
                    img_links.append(iurl)
                    pages.append(
                        {
                            "url": iurl,
                            "host": host,
                            "depth": depth + 2,
                            "status": 200,
                            "flaky": False,
                            "content_type": "image/png",
                            "body": data,
                            "out_links": [],
                            "image_refs": [image_id],
                        }
                    )
                status = 404 if rng.random() < spec.fail_404_rate else 200
                pages.append(
                    {
                        "url": durl,
                        "host": host,
                        "depth": depth + 1,
                        "status": status,
                        "flaky": False,
                        "content_type": "text/html; charset=utf-8",
                        "body": _html_body([], figures, "utf-8"),
                        "out_links": img_links,
                        "image_refs": img_ids,
                    }
                )

    seeds = [
        {
            "spider": "site",
            "url": f"http://{spec.host(hi)}/p/0",
            "rule": "list",
            "priority": 0,
        }
        for hi in range(spec.n_hosts)
    ]
    robots = []
    for hi in range(spec.n_hosts):
        host = spec.host(hi)
        robots.append(
            {
                "host": host,
                "disallow_prefixes": (spec.robots_disallow or {}).get(host, []),
                "allow_prefixes": (spec.robots_allow or {}).get(host, []),
                "crawl_delay_ms": (spec.crawl_delay_ms or {}).get(
                    host, spec.default_crawl_delay_ms
                ),
            }
        )
    return Corpus(pages, images, images_truth, seeds, robots)


# ---------------------------------------------------------------------------
# Spark loading
# ---------------------------------------------------------------------------

PAGES_DDL = (
    "url string, host string, depth int, status int, flaky boolean, "
    "fail_attempts int, content_type string, body binary, "
    "out_links array<string>, image_refs array<string>, "
    # optional header gate: "Name: value" — the page answers 403 unless
    # the request carries that header (models header-walled sites; the
    # reference rules that set request.Header, e.g. weibo_fans.go:62,
    # only work against such walls)
    "require_header string, "
    # optional POST-body key: when non-empty the page only answers a
    # request whose post_data equals it — models servers whose response
    # depends on the POST body (the reference's POST-paginated APIs:
    # zhihu_bianji.go:85-90 posts the SAME url with varying offsets,
    # Reloadable=true since Unique() hashes url+method only,
    # request.go:139-145). '' = match any request to the url.
    "post_data string"
)
IMAGES_DDL = (
    "image_id string, bytes binary, w int, h int, fmt string, "
    "caption string, phash long"
)
SEEDS_DDL = "spider string, url string, rule string, priority int"
ROBOTS_DDL = (
    "host string, disallow_prefixes array<string>, "
    "allow_prefixes array<string>, crawl_delay_ms long"
)
IMAGES_TRUTH_DDL = "image_id string, orig_png binary, lossy boolean"


def to_spark(spark, corpus: Corpus):
    """Return (pages, images, images_truth, seeds, robots) DataFrames."""
    pages = local_frame(
        spark,
        [
            (
                p["url"], p["host"], p["depth"], p["status"], p["flaky"],
                p.get("fail_attempts"), p["content_type"], p["body"],
                p["out_links"], p["image_refs"], p.get("require_header"),
                p.get("post_data", ""),
            )
            for p in corpus.pages
        ],
        PAGES_DDL,
    )
    images = local_frame(
        spark,
        [
            (i["image_id"], i["bytes"], i["w"], i["h"], i["fmt"], i["caption"], i["phash"])
            for i in corpus.images
        ],
        IMAGES_DDL,
    )
    truth = local_frame(
        spark,
        [(t["image_id"], t["orig_png"], t["lossy"]) for t in corpus.images_truth],
        IMAGES_TRUTH_DDL,
    )
    seeds = local_frame(
        spark,
        [(s["spider"], s["url"], s["rule"], s["priority"]) for s in corpus.seeds],
        SEEDS_DDL,
    )
    robots = local_frame(
        spark,
        [
            (
                r["host"],
                r["disallow_prefixes"],
                r.get("allow_prefixes", []),
                r["crawl_delay_ms"],
            )
            for r in corpus.robots
        ],
        ROBOTS_DDL,
    )
    return pages, images, truth, seeds, robots


def t1_spec() -> SiteSpec:
    """Smoke scale: 4 hosts, ~230 pages incl. images."""
    return SiteSpec()

