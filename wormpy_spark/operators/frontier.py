"""Frontier ordering + expansion operators (O1-O7, J2, J4).

The reference's frontier is a FIFO deque (url_tracker.py:28,64,75,87).
With the canonical single-scraper + sorted-expansion determinism shim
(SURVEY.md §2.5-O4), FIFO order is exactly the order of
``(parent_seq, sibling_rank)`` — seeds have parent_seq -1 and rank by
seeding position; an expansion has its parent's seq and its 1-based
rank in the parent's sorted expansion set — because seq is assigned
in round order (tail appends: a later round's rows have later
parents; a throttle's deferred rows keep their earlier ones) and
expansions are appended parent by parent in sorted url_norm order.
BSP rounds therefore reproduce the reference's sequential pop order
exactly (proof sketch in SURVEY.md §3.2).

The pair rides the frontier packed into one order-preserving BIGINT,
``priority = (parent_seq + 1) << SIBLING_BITS | sibling_rank``. The
split is fixed, so a checkpoint and its resume agree on it, and input
past it fails loudly instead of wrapping: ``CrawlConfig`` refuses a
budget of SEQ_LIMIT (2^35) or more, the fetch kernel a page with
SIBLING_LIMIT (2^28) or more in-scope links, the seeding as many seeds.

``assign_global_seq`` turns that order into a dense global sequence
WITHOUT a single-partition window: range buckets of the decoded
parent_seq (``seq_bucket``, stamped when the frontier is admitted) are
monotone in priority, so seq is a per-bucket row_number plus bucket
offsets from the counts every frontier publishes when it is written
(over its rows not marked ``deferred`` by a per-host throttle) — no
job of its own, no driver collect of rows, no one-task sort at 10^10
scale.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.urlnorm import canonicalize_udf

SIBLING_BITS = 28
SIBLING_LIMIT = 1 << SIBLING_BITS
SEQ_LIMIT = 1 << (63 - SIBLING_BITS)


def priority(parent_seq: int, sibling_rank: int) -> int:
    """The packed priority of a frontier row: orders like the tuple
    ``(parent_seq, sibling_rank)`` within the ranges above."""
    return (parent_seq + 1) << SIBLING_BITS | sibling_rank


def priority_col(parent_seq: Column, sibling_rank: Column) -> Column:
    """``priority`` as a column expression, equal to it row by row."""
    return F.shiftleft(parent_seq.cast("long") + 1, SIBLING_BITS).bitwiseOR(
        sibling_rank.cast("long")
    )


# url_norm rides the frontier: expansions are canonicalized when they
# are discovered (expand_frontier), so no round ever re-canonicalizes
# its input — at ~300 outlinks/page the frontier is the engine's
# biggest row stream and a repeated pandas-UDF pass over it was the
# top cost in round-2 phase profiles. normalize is idempotent
# (hypothesis-tested), so admission semantics are unchanged.
FRONTIER_SCHEMA = "url_norm string, priority long"

# v2: admission-derived columns ride the frontier file so no round ever
# re-derives them — host (every page row carries it, and the throttle
# window partitions on it) is computed exactly once, at admission
# (plans/crawl.py ``_admit``, fastround's pyarrow writer), with
# seq_bucket, the parent_seq range bucket the round's seq ranks by, and
# deferred, the per-host throttle's mark (false on every row without a
# throttle). Every frontier the crawl writes is v2; only seeds are
# built as v1 rows, and they are admitted on the driver (fastround's
# ``admit_seeds``, then its v2 table builder) before any round reads
# them. A page's host_shard is not stored here: each round derives it
# over its due rows (operators/fetch.py ``host_shard_col``).
FRONTIER_SCHEMA_V2 = FRONTIER_SCHEMA + ", host string, seq_bucket int, deferred boolean"


def seq_bucket(prio: int, lo: int, hi: int, n_buckets: int) -> int:
    """The bucket of a row's parent_seq, decoded from its priority
    ``prio``, among ``n_buckets`` equal slices of the parents' seq range
    [lo, hi); rows below ``lo`` (seeds, deferred rows) clamp to bucket
    0. Monotone in priority."""
    parent_seq = (prio >> SIBLING_BITS) - 1
    b = (parent_seq - lo) * n_buckets // max(hi - lo, 1)
    return min(n_buckets - 1, max(0, b))


def seq_bucket_col(lo: int, hi: int, n_buckets: int) -> Column:
    """``seq_bucket`` as a column expression over ``priority``, equal
    to it row by row: the parent_seq is decoded before the multiply, so
    the integer DIV cannot overflow and stays exactly monotone."""
    b = F.expr(
        f"CAST(((shiftright(priority, {SIBLING_BITS}) - {lo + 1}L) * {n_buckets}L) "
        f"DIV {max(hi - lo, 1)}L AS INT)"
    )
    return F.least(F.lit(n_buckets - 1), F.greatest(F.lit(0), b))


def assign_global_seq(
    frontier: DataFrame, start: int, counts: dict[int, int]
) -> tuple[DataFrame, int]:
    """Dense global sequence in priority order, offset by ``start``, over
    a frontier stamped with ``seq_bucket``. Returns (frontier_with_seq,
    row_count).

    ``counts``: the rows per bucket, as the frontier's write published
    them — the offsets are driver arithmetic and the bucket window
    rides the caller's next job."""
    offsets: dict[int, int] = {}
    acc = start
    for b in sorted(counts):
        if counts[b]:
            offsets[b] = acc
            acc += counts[b]
    if not offsets:  # empty input — keep the schema, no rows
        return frontier.withColumn("seq", F.lit(0).cast("long")), 0
    mapping = F.create_map(*[F.lit(x) for b_off in offsets.items() for x in b_off])
    w = Window.partitionBy("seq_bucket").orderBy("priority")
    seq = mapping[F.col("seq_bucket")] + F.row_number().over(w) - 1
    return frontier.withColumn("seq", seq.cast("long")), acc - start


def dedup_within_round(df: DataFrame) -> DataFrame:
    """First-occurrence-wins on the priority order over ``(url_norm,
    priority)`` rows: the sequential equivalent is pop-skip of later
    in-pool duplicates via the visited-at-pop check (scraper.py:77-79;
    J2 allows frontier dupes, url_tracker.py:84-87).

    A groupBy-min of the packed priority: a hash aggregate with map-side
    partial aggregation, which neither a row_number window nor a
    min(struct) sort aggregate gets."""
    return df.groupBy("url_norm").agg(F.min("priority").alias("priority"))


def expand_frontier(pages: DataFrame, base_norm: str) -> DataFrame:
    """J4/O4: per-page outlinks → normalized, scope-filtered, per-parent
    distinct, sibling-ranked ``(url_norm, priority)`` candidate rows for
    the next round.

    The admission anti-join vs the seen set (J1) is applied by the
    caller (operators.seen.anti_join_seen) against the seen set that
    includes this round's pages.

    Fast path: when the pages carry ``discovered_norm`` (the fetch
    kernel's pre-canonicalized, scope-filtered, per-parent
    distinct+sorted expansion set — operators/fetch.py), the per-parent
    set is already one row's array, so a single posexplode yields the
    sibling order with NO shuffle and NO canonicalize-UDF pass over the
    raw link stream. The groupBy(collect_set) path below serves pages
    read back from snapshots, which keep only ``discovered_urls``: the
    resume rebuild of a deferred expansion.
    """
    if "discovered_norm" in pages.columns:
        return (
            pages.filter(F.col("error").isNull())
            .filter(F.size("discovered_norm") > 0)
            .select("seq", F.posexplode("discovered_norm").alias("pos", "url_norm"))
            .select("url_norm", priority_col(F.col("seq"), F.col("pos") + 1).alias("priority"))
        )
    links = (
        pages.filter(F.col("error").isNull())
        .filter(F.size("discovered_urls") > 0)
        .select("seq", F.explode("discovered_urls").alias("link"))
    )
    cand = links.withColumn("url_norm", canonicalize_udf(F.col("link"))).filter(
        F.col("url_norm").startswith(base_norm)  # scraper.py:102
    )
    # one shuffle instead of distinct + window: collect_set gives the
    # per-parent set semantics (scraper.py:99) with map-side partial
    # aggregation, sort_array + posexplode yields the sorted-expansion
    # sibling order (O4) without a second exchange
    grouped = cand.groupBy("seq").agg(F.sort_array(F.collect_set("url_norm")).alias("urls"))
    return grouped.select("seq", F.posexplode("urls").alias("pos", "url_norm")).select(
        "url_norm", priority_col(F.col("seq"), F.col("pos") + 1).alias("priority")
    )
