"""Driver fast path for tiny crawl rounds (T4 head/tail optimization).

A BSP crawl's first rounds are tiny (the seed round fetches 1 URL, the
second a few hundred) yet each pays the same fixed per-round cost as an
80k-URL round: several blocking Spark jobs of job-scheduling / Python-
worker / parquet-commit latency (the fetch, the pages write, the
expansion's admission and frontier write). When the whole frontier
fits in the driver's hand (≤ CrawlConfig.fast_round_max rows), this
module executes the ENTIRE round driver-side — one Spark job remains
(the broadcast-semi web lookup + the same Arrow extraction kernel the
Spark path runs, returning only the small extracted rows), everything
else is plain Python over a few hundred rows.

Parity obligations (tested: tests/test_golden.py runs entirely through
this path with default config, and test_properties.py asserts
fast-vs-Spark equality including a mid-crawl transition):
- identical admission: the seeds are admitted once on the driver
  (``admit_seeds``) whatever the round kind, and each expansion here
  passes scope and the probe skip in the fetch kernel, then first-
  occurrence dedup, the seen check and robots below — the pure
  predicates the Spark path's ``_admit`` column expressions mirror. A
  round pops its rows as-is: per-host deferral → seq → budget cut;
- identical pages rows: the very same ``make_fetch_extract`` Arrow
  kernel produces them;
- identical ``host_shard``: the due rows take it from the same JVM
  column (operators/fetch.py ``host_shard_col``) as the Spark path's;
- snapshot-compatible parquet: pyarrow writes the exact PAGES_SCHEMA /
  FRONTIER_SCHEMA_V2 arrow types, so Spark unions fast-round and
  Spark-round snapshot files transparently (resume, seen derivation,
  final assembly are unchanged); the same v2 table (``frontier_table``)
  is a Spark round 0's seed frontier.

At 10^10-URL scale this is the standard driver-side tail/head
optimization: rounds 0-1 of ANY crawl are tiny regardless of corpus
size, and a 1000-executor cluster pays scheduler latency per job just
like local mode does.
"""

from __future__ import annotations

import os
import time
from collections import Counter
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import pandas as pd

from ..functions.urlnorm import get_domain, is_suspicious_url
from ..operators.fetch import (
    PAGES_SCHEMA_EXPAND,
    pages_arrow_fields,
    host_shard_col,
    make_fetch_extract,
)
from ..operators.frontier import priority, seq_bucket

PAGES_ARROW_SCHEMA = pa.schema(pages_arrow_fields(expand=False))

FRONTIER_ARROW_SCHEMA = pa.schema(
    [
        ("url_norm", pa.string()),
        ("priority", pa.int64()),
        # FRONTIER_SCHEMA_V2 admission-derived columns (see
        # operators/frontier.py)
        ("host", pa.string()),
        ("seq_bucket", pa.int32()),
        ("deferred", pa.bool_()),
    ]
)


def write_pages_parquet(path: str, rows: list[dict]) -> None:
    os.makedirs(path, exist_ok=True)
    cols: dict = {name: [] for name in PAGES_ARROW_SCHEMA.names}
    for p in rows:
        for name in cols:
            v = p[name]
            if name == "metadata" and isinstance(v, dict):
                v = list(v.items())
            cols[name].append(v)
    table = pa.Table.from_pydict(cols, schema=PAGES_ARROW_SCHEMA)
    pq.write_table(table, os.path.join(path, "part-00000.parquet"))


def admit_seeds(rows: list[tuple], web, robots_cache) -> list[tuple]:
    """The seeds' one admission, on the driver, before round 0 of either
    kind. ``rows``: FRONTIER_SCHEMA ``(url_norm, priority)`` tuples,
    canonical and in scope (P4). Applies first occurrence by priority
    (J2), the P5/P6 probe and the robots cache; seen is empty (J1). A
    suspicious seed is skipped when its content type in ``web`` is
    image/*: one literal-IN lookup, run only when some seed is
    suspicious. Returns the admitted rows in priority order."""
    firsts: dict[str, int] = {}
    for un, prio in sorted(rows, key=lambda row: row[1]):
        firsts.setdefault(un, prio)
    suspicious = [un for un in firsts if is_suspicious_url(un)]
    skipped = set()
    if suspicious:
        skipped = {
            r["url_norm"]
            for r in web.filter(F.col("url_norm").isin(suspicious))
            .filter(F.col("content_type").startswith("image/"))
            .select("url_norm")
            .collect()
        }
    return [
        (un, prio)
        for un, prio in firsts.items()
        if un not in skipped and (robots_cache is None or robots_cache.allows(un))
    ]


def throttle_marks(rows: list[tuple], max_per_host: int | None) -> list[bool]:
    """The per-host throttle over ``(url_norm, priority)`` tuples in
    priority order: True on each row past its host's first
    ``max_per_host``, all False without a throttle — the ``deferred``
    mark ``_admit`` stamps with a row_number window (plans/crawl.py)."""
    if max_per_host is None:
        return [False] * len(rows)
    taken: Counter = Counter()
    marks = []
    for un, _ in rows:
        host = get_domain(un)
        taken[host] += 1
        marks.append(taken[host] > max_per_host)
    return marks


def frontier_table(
    rows: list[tuple], parents: tuple[int, int], n_buckets: int,
    max_per_host: int | None,
) -> tuple[pa.Table, dict[int, int]]:
    """rows: ``(url_norm, priority)`` in priority order, as a
    FRONTIER_SCHEMA_V2 table: the derived columns (host, seq_bucket over
    the parents' seq range ``parents``, the throttle's ``deferred``
    mark) are computed here so the Spark loop never re-derives them.
    Also returns the unmarked rows per seq_bucket, as ``_admit``'s write
    publishes them (plans/crawl.py)."""
    cols: dict[str, list] = {
        "url_norm": [un for un, _ in rows],
        "priority": [prio for _, prio in rows],
        "host": [get_domain(un) for un, _ in rows],
        "seq_bucket": [seq_bucket(prio, *parents, n_buckets) for _, prio in rows],
        "deferred": throttle_marks(rows, max_per_host),
    }
    counts = Counter(b for b, d in zip(cols["seq_bucket"], cols["deferred"]) if not d)
    return pa.Table.from_pydict(cols, schema=FRONTIER_ARROW_SCHEMA), dict(counts)


def write_frontier_parquet(path: str, table: pa.Table) -> None:
    os.makedirs(path, exist_ok=True)
    pq.write_table(table, os.path.join(path, "part-00000.parquet"))


@dataclass
class FastRound:
    pages: list[dict]
    frontier_next: list[tuple]  # (url_norm, priority) in priority order
    n_eligible: int
    due_count: int
    n_errors: int
    seq_s: float = 0.0
    fetch_s: float = 0.0
    expand_s: float = 0.0


def run_fast_round(
    r: int,
    frontier_rows: list[tuple],
    seen_set: set[str],
    processed: int,
    budget: int,
    base: str,
    config,
    web_fetch,
    robots_cache,
    probe_skip_bc,
) -> FastRound:
    """One crawl round over a driver-resident frontier.

    ``frontier_rows``: admitted ``(url_norm, priority)`` tuples in
    priority order — the seeds (``admit_seeds``) or a previous fast
    round's ``frontier_next``.
    Mutates ``seen_set`` with this round's processed keys (J3), exactly
    as the Spark path's seen derivation would.
    """
    t0 = time.time()
    marks = throttle_marks(frontier_rows, config.max_per_host_per_round)
    deferred = [row for row, m in zip(frontier_rows, marks) if m]
    eligible = [row for row, m in zip(frontier_rows, marks) if not m]

    n_eligible = len(eligible)
    t_seq = time.time()
    if n_eligible == 0:
        return FastRound([], [], 0, 0, 0, seq_s=round(t_seq - t0, 2))

    due = eligible[: max(budget - processed, 0)]
    due_count = len(due)

    # S4/J7 + F1-F3: the ONE Spark job — broadcast-semi key lookup into
    # the web table, the SAME Arrow extraction kernel the Spark path
    # runs (HTML parsing distributes across cores; doing it driver-side
    # measured ~10ms/page serial), and only the SMALL extracted rows
    # (text/meta/links — never bodies) come back to the driver.
    spark = web_fetch.sparkSession
    due_pdf = pd.DataFrame(
        {
            "url_norm": [un for un, _ in due],
            "seq": range(processed, processed + due_count),
            "round": r,
            "host": [get_domain(un) for un, _ in due],
        }
    )
    due_df = spark.createDataFrame(
        due_pdf, "url_norm string, seq long, round int, host string"
    ).select("*", host_shard_col())
    # literal IN filter instead of a broadcast semi-join: the due keys
    # are already driver-resident (≤ fast_round_max) and a literal
    # predicate is eligible for the cache's batch-statistics pruning —
    # with the prep-sorted cache (prepare_fetch_table) the scan skips
    # every 1024-row batch whose url_norm range contains no key,
    # instead of decoding the whole cached web table to keep ~300 rows.
    web_small = web_fetch.filter(
        F.col("url_norm").isin(due_pdf["url_norm"].tolist())
    )
    joined = due_df.join(F.broadcast(web_small), on="url_norm", how="left")
    # scope_base + probe_skip_bc: the kernel pre-canonicalizes, scope-
    # filters and probe-skips each page's expansion set IN the parallel
    # workers (``discovered_norm``), so the driver expansion below
    # iterates ready-made lists instead of running ~links-many
    # normalize_url calls single-threaded (measured 2-3 s of driver-
    # only wall in round 1 at every parallelism level).
    kernel = make_fetch_extract(
        config.discovery, scope_base=base, probe_skip_bc=probe_skip_bc
    )
    page_rows = joined.mapInArrow(kernel, PAGES_SCHEMA_EXPAND).collect()
    pages = sorted(
        (row.asDict(recursive=True) for row in page_rows),
        key=lambda p: p["seq"],
    )
    n_errors = sum(1 for p in pages if p["error"] is not None)
    t_fetch = time.time()

    # J3: mark processed (error rows included) BEFORE expansion admission
    for p in pages:
        seen_set.add(p["url_norm"])

    # J4/O4 expansion → J2 global first-occurrence → J1 admission.
    # The probe-skip (P5/P6) and robots filters apply at ADMISSION, as
    # in the Spark path (plans/crawl.py ``_admit``): a dropped URL never
    # gets a seq on either path, so pages/order/seen are identical.
    # deferred rows (earlier parents) sort before every expansion
    frontier_next: list[tuple] = list(deferred)
    if config.discovery:
        # pages run in seq order and each page's set is sorted, so the
        # first occurrence of a URL has its least priority, and the
        # dict's insertion order is priority order
        best: dict[str, int] = {}
        for p in pages:
            if p["error"] is not None:
                continue
            # the kernel's per-parent set: normalized, scope-filtered,
            # probe-skipped, distinct and sorted
            for pos, nn in enumerate(p["discovered_norm"]):
                best.setdefault(nn, priority(p["seq"], pos + 1))
        # a URL still deferred keeps its earlier-priority deferred copy:
        # a Spark round pops a handed-over frontier without a J2 pass
        deferred_urls = {un for un, _ in deferred}
        frontier_next += [
            (un, prio)
            for un, prio in best.items()
            if un not in seen_set
            and un not in deferred_urls
            and (robots_cache is None or robots_cache.allows(un))
        ]
    t_expand = time.time()

    return FastRound(
        pages=pages,
        frontier_next=frontier_next,
        n_eligible=n_eligible,
        due_count=due_count,
        n_errors=n_errors,
        seq_s=round(t_seq - t0, 2),
        fetch_s=round(t_fetch - t_seq, 2),
        expand_s=round(t_expand - t_fetch, 2),
    )
