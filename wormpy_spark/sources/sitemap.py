"""Sitemap scan + one-level parse for one base URL (S2/S3).

Reference behavior (modules/utils/sitemap_parser.py):
- probe 9 well-known locations in order, first response whose
  Content-Type contains 'xml' wins (:49-67)
- parse <loc> elements; locs ending '.xml' recurse exactly one level
  into sub-sitemaps; other locs pass is_valid_url (:69-114)
- result: sorted(set(...)) (:22)

A crawl is seeded from one base, and its sitemaps are a handful of XML
rows (13 URLs on the benchmark corpus). So this is a driver-side
lookup, like the reference's loop: the 9 probe URLs are a pure function
of the base, one literal-IN filter on the sitemaps table fetches them,
and a second one fetches the sub-sitemaps the winner names. The XML is
parsed on the driver. At most two small collects, no Python worker: a
UDF plan would pay a Python boundary crossing and several job floors
for a few rows.
"""

from __future__ import annotations

import xml.etree.ElementTree as ET
from urllib.parse import urljoin

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.urlnorm import is_valid_url

SITEMAP_LOCATIONS = [  # sitemap_parser.py:49-53
    "sitemap.xml", "sitemap_index.xml", "sitemap/", "sitemap1.xml",
    "post-sitemap.xml", "page-sitemap.xml", "sitemapindex.xml",
    "sitemap-index.xml", "wp-sitemap.xml",
]


def _parse_locs(xml: str | None) -> list[str]:
    """All <loc> texts in document order; [] on parse error
    (sitemap_parser.py:90-93)."""
    if xml is None:
        return []
    try:
        root = ET.fromstring(xml)
    except ET.ParseError:
        return []
    return [e.text.strip() for e in root.iter() if "loc" in e.tag and e.text]


def _lookup(sitemaps: DataFrame, urls: list[str]) -> dict[str, tuple]:
    """url → (content_type, xml) for the listed URLs found in the table."""
    rows = (
        sitemaps.filter(F.col("url").isin(urls))
        .select("url", "content_type", "xml")
        .collect()
    )
    return {r["url"]: (r["content_type"], r["xml"]) for r in rows}


def sitemap_urls(sitemaps: DataFrame, base: str) -> list[str]:
    """Sorted sitemap-discovered URLs of ``base``.

    ``sitemaps`` is the fixture table (url, content_type, xml)."""
    probes = [urljoin(base, loc) for loc in SITEMAP_LOCATIONS]
    found = _lookup(sitemaps, probes)
    for probe in probes:
        content_type, xml = found.get(probe, (None, None))
        if "xml" in (content_type or ""):
            break
    else:
        return []
    locs = _parse_locs(xml)
    urls = {u for u in locs if not u.endswith(".xml") and is_valid_url(u, base)}
    # one-level recursion into sub-sitemaps (sitemap_parser.py:95-114)
    subs = [u for u in locs if u.endswith(".xml")]
    if subs:
        for _, xml in _lookup(sitemaps, subs).values():
            urls.update(u for u in _parse_locs(xml) if is_valid_url(u, base))
    return sorted(urls)
