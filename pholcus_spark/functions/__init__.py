"""Scalar/vectorized function facade (SURVEY.md §2.5-2.6, §2.12).

URL canonicalization + keys, HTML extraction, image validation — the
Arrow-batched UDF surface and the JVM column helpers.
"""

from ..extract import decode_body  # noqa: F401
from ..keys import (  # noqa: F401
    absolutize,
    canon_host_udf,
    canonicalize_url,
    canonicalize_url_udf,
    host_of,
    key_bucket_col,
    request_key,
    request_key_col,
)
from ..validate import psnr_vs_truth_udf, validate_image_udf  # noqa: F401
