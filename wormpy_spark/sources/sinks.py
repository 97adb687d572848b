"""Output sinks with the reference's exact shapes (S9/S10).

Reference behavior:
- results sorted by URL (modules/utils/utils.py:103)
- JSON: {"sitemap_urls": [...], "scraped_data": {url: {metadata,
  content, discovered_urls}}} with indent=2, ensure_ascii=False
  (main.py:65-69; file_handler.py:42-44)
- CSV: sitemap section [["Sitemap URL"], [url]...] prepended, then
  [["Scraped Data"]], then header ['URL','Content','Discovered URLs',
  'Metadata'] with metadata JSON-encoded and discovered URLs joined
  with ', ' (utils.py:105-115; main.py:70-72; file_handler.py:38-41)
- R3 rows have ONLY the content key (scraper.py:130)

Two paths:
- ``write_csv_distributed``: df.write.csv() — row-per-line shape for
  cluster-scale output (sorted via orderBy; Spark writes one file per
  partition, ordering preserved across sorted partitions)
- ``collect_*``: driver-side golden shape, byte-compatible with the
  reference's single-file output (used by tests and small runs)
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _page_dict(row) -> dict:
    if row["error"] == "loop_error":
        return {"content": row["text"]}  # R3 shape: content only
    return {
        "metadata": dict(row["metadata"]) if row["metadata"] is not None else None,
        "content": row["text"],
        "discovered_urls": list(row["discovered_urls"])
        if row["discovered_urls"] is not None
        else None,
    }


def collect_json(pages: DataFrame, sitemap_urls: list[str]) -> str:
    rows = pages.orderBy("url_norm").collect()  # utils.py:103 sort
    scraped = {r["url_norm"]: _page_dict(r) for r in rows}
    wrapper = {"sitemap_urls": list(sitemap_urls), "scraped_data": scraped}
    return json.dumps(wrapper, indent=2, ensure_ascii=False)


def collect_csv(pages: DataFrame, sitemap_urls: list[str]) -> list[list[str]]:
    rows = pages.orderBy("url_norm").collect()
    out: list[list[str]] = [["Sitemap URL"]]
    out += [[u] for u in sitemap_urls]
    out.append(["Scraped Data"])
    out.append(["URL", "Content", "Discovered URLs", "Metadata"])
    for r in rows:
        d = _page_dict(r)
        out.append(
            [
                r["url_norm"],
                d.get("content"),
                ", ".join(d.get("discovered_urls") or []),
                json.dumps(d.get("metadata"), ensure_ascii=False),
            ]
        )
    return out


def write_csv_distributed(pages: DataFrame, path: str) -> None:
    """Scale path: header'd CSV with the reference's column set;
    metadata JSON-encoded, discovered URLs comma-joined (S10)."""
    (
        pages.orderBy("url_norm")
        .select(
            F.col("url_norm").alias("URL"),
            F.col("text").alias("Content"),
            F.array_join(F.coalesce("discovered_urls", F.array()), ", ").alias(
                "Discovered URLs"
            ),
            F.to_json("metadata").alias("Metadata"),
        )
        .write.mode("overwrite")
        .option("header", True)
        .csv(path)
    )


# ---------------------------------------------------------------------------
# F6: output filename templating + single-file save (reference shapes)
# ---------------------------------------------------------------------------

def set_filename(output_format: str, now: str) -> str:
    """utils.py:121-123: scrape_<ts>.<fmt>."""
    return f"scrape_{now}.{output_format}"


def log_filename(now: str) -> str:
    """main.py:124-125: scrape_log_<ts>.log."""
    return f"scrape_log_{now}.log"


def output_dir(base_url: str, savename: str | None = None) -> str:
    """main.py:120,144 + file_handler.py:31: scrapes/<savename or domain>."""
    import os

    from ..functions.urlnorm import get_domain, normalize_url

    folder = savename or get_domain(normalize_url(base_url))
    return os.path.join("scrapes", folder)


def save_output(data, domain: str, filename: str, output_format: str,
                root: str = ".") -> str:
    """file_handler.py:11-55 semantics: scrapes/<domain>/<filename>,
    CSV via csv.writer rows / JSON via indent=2 ensure_ascii=False.
    ``root`` keeps tests out of the CWD."""
    import csv
    import os

    domain_dir = os.path.join(root, "scrapes", domain)
    os.makedirs(domain_dir, exist_ok=True)
    full_path = os.path.join(domain_dir, filename)
    if output_format == "csv":
        with open(full_path, "w", newline="", encoding="utf-8") as f:
            csv.writer(f).writerows(data)
    elif output_format == "json":
        with open(full_path, "w", encoding="utf-8") as f:
            json.dump(data, f, indent=2, ensure_ascii=False)
    else:
        raise ValueError(f"Invalid output format: {output_format}")
    return full_path
