"""In-process timings of the crawl's Python kernels on a fixed sample
of the workload's own pages (the first ``n`` HTML pages of the crawled
host by ``url_norm``)."""

from __future__ import annotations

import time
import zlib

MIN_TIMED_S = 0.3


def _per_item(fn, n_items: int) -> float:
    """Seconds per item: repeat ``fn`` until MIN_TIMED_S has passed,
    report the fastest repetition."""
    best, spent = None, 0.0
    while spent < MIN_TIMED_S or best is None:
        t0 = time.perf_counter()
        fn()
        dt = time.perf_counter() - t0
        spent += dt
        best = dt if best is None else min(best, dt)
    return best / max(n_items, 1)


def sample_pages(web_parquet: str, base_url: str, n: int = 300):
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    t = pq.read_table(web_parquet)
    keep = pc.and_(
        pc.and_(pc.equal(t["content_type"], "text/html"), pc.equal(t["status"], 200)),
        pc.starts_with(t["url_norm"], base_url),
    )
    t = t.filter(keep).sort_by("url_norm").slice(0, n)
    return t


def kernel_metrics(web_parquet: str, base_url: str) -> dict:
    import pyarrow as pa

    from wormpy_spark.functions.extract import extract_all
    from wormpy_spark.functions.urlnorm import normalize_url
    from wormpy_spark.operators.fetch import make_fetch_extract

    pages = sample_pages(web_parquet, base_url)
    n = pages.num_rows
    bodies = [bytes(b) for b in pages["body"].to_pylist()]
    zbodies = [zlib.compress(b, 1) for b in bodies]
    htmls = [b.decode("utf-8", "replace") for b in bodies]
    links = [l for ls in pages["links"].to_pylist() for l in (ls or [])]
    absolute = [u for u in links if "://" in u] or links

    def inflate():
        for z in zbodies:
            zlib.decompress(z)

    def extract():
        for h in htmls:
            extract_all(h)

    def urlnorm():
        for u in absolute:
            normalize_url(u)

    # the fetch kernel's input: the due frontier joined to the prepared
    # web table, whose bodies are stored zlib-compressed
    cols = {name: pages[name] for name in pages.column_names
            if name not in ("body", "dynamic_body")}
    cols["body_z"] = pa.array(zbodies, type=pa.binary())
    cols["dynamic_body_z"] = pa.array(
        [None if b is None else zlib.compress(bytes(b), 1)
         for b in pages["dynamic_body"].to_pylist()], type=pa.binary())
    cols["seq"] = pa.array(range(n), type=pa.int64())
    cols["round"] = pa.array([0] * n, type=pa.int32())
    cols["host_shard"] = pa.array([0] * n, type=pa.int32())
    batches = pa.Table.from_pydict(cols).combine_chunks().to_batches()
    fetch_fn = make_fetch_extract(True, scope_base=base_url)

    def fetch_kernel():
        for _ in fetch_fn(iter(batches)):
            pass

    return {
        "inflate.ms_per_page": _per_item(inflate, n) * 1e3,
        "extract.ms_per_page": _per_item(extract, n) * 1e3,
        "fetch_kernel.ms_per_page": _per_item(fetch_kernel, n) * 1e3,
        "urlnorm.us_per_link": _per_item(urlnorm, len(absolute)) * 1e6,
    }
