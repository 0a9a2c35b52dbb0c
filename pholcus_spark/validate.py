"""Vectorized image validation — the north-rule Arrow UDF stage.

The input_hint mandates: decode / validate image rows with vectorized
pandas/Arrow UDFs (no per-row Python in the Spark plan); per-row
invariant vs originals = decoded-pixel allclose (PSNR ≥ 40 dB for
lossy formats, bit-exact for lossless) + exact caption equality +
phash equality.

``validate_image_udf`` decodes each Arrow batch with the in-repo numpy
PNG codec (imaging.py), computes (w, h, phash, ok) per row; jpeg rows
route through the Pillow-gated decoder and degrade to ok=false with an
error tag when Pillow is absent (clearly-marked stub — the schema,
batching and plumbing are identical).

``psnr_vs_truth_udf`` implements the conformance invariant given the
original pixels (joined from the images_truth fixture table on
image_id).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from .imaging import decode_image, phash64, psnr

# an image URL's id: the file stem under /img/ (``{host}/img/{id}.png``,
# the fixture web's shape). Every image_id read — the figure src a
# page's image child carries, and the image row's own URL when that
# carry is missing or empty — uses this one pattern.
IMAGE_ID_RE = r"/img/(.+)\.(png|jpe?g)$"

VALIDATION_TYPE = StructType(
    [
        StructField("w", IntegerType()),
        StructField("h", IntegerType()),
        StructField("phash", LongType()),
        StructField("ok", BooleanType()),
        StructField("error", StringType()),
    ]
)


def _fmt_of(content_type: str | None, url: str | None) -> str:
    ct = (content_type or "").lower()
    if "png" in ct:
        return "png"
    if "jpeg" in ct or "jpg" in ct:
        return "jpeg"
    u = (url or "").lower()
    if u.endswith((".jpg", ".jpeg")):
        return "jpeg"
    return "png"


def _validate_row(body, content_type: str | None, url: str | None) -> tuple:
    """One image row's ``(w, h, phash, ok, error)``. The whole tuple is
    computed before a caller appends any of it, so a failure mid-row
    (e.g. phash on a degenerate image) cannot leave columns ragged."""
    try:
        px = decode_image(bytes(body), _fmt_of(content_type, url))
        return int(px.shape[1]), int(px.shape[0]), phash64(px), True, None
    except NotImplementedError as e:  # jpeg without Pillow — stub path
        return None, None, None, False, f"stub:{e}"
    except Exception as e:
        return None, None, None, False, str(e)


@pandas_udf(VALIDATION_TYPE)
def validate_image_udf(
    bodies: pd.Series, content_types: pd.Series, urls: pd.Series
) -> pd.DataFrame:
    rows = [_validate_row(b, ct, u) for b, ct, u in zip(bodies, content_types, urls)]
    w, h, phash, ok, error = ([r[i] for r in rows] for i in range(5))
    # nullable integer arrays: with plain lists, one failed row (None)
    # turns the column into float64, which rounds every 64-bit phash in
    # the batch
    return pd.DataFrame(
        {
            "w": pd.array(w, dtype="Int32"),
            "h": pd.array(h, dtype="Int32"),
            "phash": pd.array(phash, dtype="Int64"),
            "ok": ok,
            "error": error,
        }
    )


IMAGES_ARROW_SCHEMA_FIELDS = [
    ("image_id", "string"),
    ("bytes", "binary"),
    ("w", "int32"),
    ("h", "int32"),
    ("fmt", "string"),
    ("caption", "string"),
    ("phash", "int64"),
    ("valid", "bool_"),
    ("error", "string"),
    ("url", "string"),
    ("parent_url", "string"),
    ("superstep", "int32"),
    ("download_time", "string"),
]


def images_arrow_schema():
    import pyarrow as pa

    return pa.schema([(n, getattr(pa, t)()) for n, t in IMAGES_ARROW_SCHEMA_FIELDS])


def make_image_sink_kernel(superstep: int, session_tz: str = "UTC"):
    """Body-store kernel for the python-side images sink: decodes and
    validates in the same task that read the bytes, returns
    ``(manifest_pdf, sink_pdf)`` where the sink carries the full images
    -table row (bytes included) and the manifest only (image_id, valid).
    The same :func:`_validate_row` as ``validate_image_udf``, plus the
    engine's images projection (engine.py images branch)."""
    import re

    id_re = re.compile(IMAGE_ID_RE)

    def kernel(grp: pd.DataFrame):
        # DownloadTime provenance (data.go:9-13) — same format AND same
        # timezone as the engine's JVM `_dlt()` (date_format in the
        # session tz), so the two image paths emit matching provenance
        # whatever the session tz is; intentionally non-deterministic,
        # never compared by conformance/oracle
        from datetime import datetime
        from zoneinfo import ZoneInfo

        try:
            dlt = datetime.now(ZoneInfo(session_tz)).strftime("%Y-%m-%d %H:%M:%S")
        except KeyError:  # unknown tz id — fall back like the JVM would not
            dlt = datetime.utcnow().strftime("%Y-%m-%d %H:%M:%S")
        ids, ws, hs, fmts, caps, phs, oks, errs = [], [], [], [], [], [], [], []
        for body, ct, url, temp in zip(
            grp["body"], grp["content_type"], grp["url"], grp["temp"]
        ):
            temp = temp or {}
            iid = temp.get("image_id")
            if not iid:
                m = id_re.search(url or "")
                iid = m.group(1) if m else ""
            ids.append(iid)
            fmts.append("jpeg" if "jpeg" in (ct or "") else "png")
            caps.append(temp.get("caption") or "")
            w, h, ph, ok, err = _validate_row(body, ct, url)
            ws.append(w), hs.append(h), phs.append(ph), oks.append(ok), errs.append(err)
        sink = pd.DataFrame(
            {
                "image_id": ids,
                "bytes": [bytes(b) if b is not None else None for b in grp["body"]],
                "w": pd.array(ws, dtype="Int32"),
                "h": pd.array(hs, dtype="Int32"),
                "fmt": fmts,
                "caption": caps,
                "phash": pd.array(phs, dtype="Int64"),
                "valid": oks,
                "error": errs,
                "url": grp["url"],
                "parent_url": grp["parent_url"],
                "superstep": pd.array([superstep] * len(grp), dtype="Int32"),
                "download_time": [dlt] * len(grp),
            }
        )
        manifest = pd.DataFrame({"image_id": ids, "valid": oks})
        return manifest, sink

    return kernel


@pandas_udf(DoubleType())
def psnr_vs_truth_udf(
    bodies: pd.Series, fmts: pd.Series, orig_pngs: pd.Series
) -> pd.Series:
    """PSNR of decoded stored bytes vs decoded original pixels.
    inf (lossless identity) is reported as 1e9 to stay finite in SQL."""
    out = []
    for body, fmt, orig in zip(bodies, fmts, orig_pngs):
        a = decode_image(bytes(body), fmt)
        b = decode_image(bytes(orig), "png")
        v = psnr(a, b)
        out.append(1e9 if v == float("inf") else float(v))
    return pd.Series(out)
