"""Sitemap seeding (S2/S3): the driver-side lookup against the oracle's
plain loop, its edge cases, and its Spark job budget."""

from __future__ import annotations

import pandas as pd
import pytest

from wormpy_spark.functions.urlnorm import normalize_url
from wormpy_spark.oracle import sitemap_get_all_urls
from wormpy_spark.sources.sitemap import sitemap_urls

# the golden runs' bases (tests/test_golden.py RUNS)
GOLDEN_BASES = [
    "https://HOST0.test/",
    "https://host1.test/p/1?x=1",
    "https://host2.test/sub",
    "https://host0.test",
]


def _bases(corpus) -> list[str]:
    hosts = sorted(corpus["web"]["host"].unique())
    return GOLDEN_BASES + [f"https://{h}" for h in hosts]


def test_sitemap_urls_match_oracle(corpus, spark_corpus):
    """Every golden base and every fixture host (host1's first XML hit
    does not parse), raw and as run_crawl normalizes it."""
    seen_nonempty = False
    for raw in _bases(corpus):
        for base in (raw, normalize_url(raw)):
            got = sitemap_urls(spark_corpus["sitemaps"], base)
            assert got == sitemap_get_all_urls(base, corpus["sitemaps"]), base
            seen_nonempty |= bool(got)
    assert seen_nonempty


def _xml(*locs: str, root: str = "urlset") -> str:
    return (
        f'<?xml version="1.0"?><{root}>'
        + "".join(f"<url><loc>{u}</loc></url>" for u in locs)
        + f"</{root}>"
    )


EDGE_ROWS = [
    # a.test: an empty <loc/> is skipped
    ("https://a.test/sitemap.xml", "text/xml",
     '<urlset><url><loc/></url><url><loc>https://a.test/1</loc></url></urlset>'),
    # b.test: a null content_type is no XML hit; the next probe wins
    ("https://b.test/sitemap.xml", None, _xml("https://b.test/never")),
    ("https://b.test/sitemap1.xml", "application/xml", _xml("https://b.test/1")),
    # c.test: one sub-sitemap is missing from the table, one does not
    # parse, and two list the same URL
    ("https://c.test/sitemap.xml", "text/xml", _xml(
        "https://c.test/s1.xml", "https://c.test/s2.xml",
        "https://c.test/missing.xml", "https://c.test/broken.xml",
        "https://c.test/direct", root="sitemapindex")),
    ("https://c.test/s1.xml", "text/xml", _xml("https://c.test/2", "https://c.test/1")),
    ("https://c.test/s2.xml", None, _xml("https://c.test/1", "https://c.test/3")),
    ("https://c.test/broken.xml", "text/xml", "<urlset><loc>broken"),
    # d.test: only a non-XML content type at a probe location
    ("https://d.test/sitemap.xml", "text/html", _xml("https://d.test/1")),
]


@pytest.mark.parametrize(
    "base,want",
    [
        ("https://a.test", ["https://a.test/1"]),
        ("https://b.test", ["https://b.test/1"]),
        ("https://c.test", ["https://c.test/1", "https://c.test/2",
                            "https://c.test/3", "https://c.test/direct"]),
        ("https://d.test", []),
        ("https://nosuch.test", []),
    ],
)
def test_sitemap_urls_edge_cases(spark, base, want):
    schema = "url string, content_type string, xml string"
    assert sitemap_urls(spark.createDataFrame(EDGE_ROWS, schema), base) == want
    if base != "https://a.test":  # the oracle assumes every <loc> has text
        pdf = pd.DataFrame(EDGE_ROWS, columns=["url", "content_type", "xml"])
        assert sitemap_get_all_urls(base, pdf) == want


def test_sitemap_urls_job_budget(spark, spark_corpus, tmp_path):
    """host0's index + sub-sitemaps take two lookups, one job each, from
    a parquet table (a local relation would run no job at all)."""
    path = str(tmp_path / "sitemaps")
    spark_corpus["sitemaps"].write.parquet(path)
    sitemaps = spark.read.parquet(path)
    sc = spark.sparkContext
    sc.setJobGroup("sitemap-seed-budget", "sitemap seed job budget")
    try:
        got = sitemap_urls(sitemaps, "https://host0.test")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(got) == 13
    assert len(sc.statusTracker().getJobIdsForGroup("sitemap-seed-budget")) <= 2
