"""Frontier ordering + expansion operators (O1-O7, J2, J4).

The reference's frontier is a FIFO deque (url_tracker.py:28,64,75,87).
With the canonical single-scraper + sorted-expansion determinism shim
(SURVEY.md §2.5-O4), FIFO order is exactly the lexicographic order of
the priority triple

    (round_enqueued, parent_seq, sibling_rank)

because every URL processed in round r precedes every URL enqueued
during round r (tail appends), expansions are appended parent-by-
parent in parent processing order, and within a parent in sorted
url_norm order. BSP rounds therefore reproduce the reference's
sequential pop order exactly (proof sketch in SURVEY.md §3.2).

``assign_global_seq`` turns that priority order into a dense global
sequence WITHOUT a single-partition window. Seq is assigned in round
order and seeds have parent_seq = -1, so every row of a later
round_enqueued has a larger parent_seq than every row of an earlier
one: range buckets of parent_seq (``seq_bucket``, stamped when the
frontier is admitted) are monotone in the whole priority triple. Seq
is then a per-bucket row_number plus bucket offsets from the counts
every frontier publishes when it is written (over its rows not marked
``deferred`` by a per-host throttle) — no job of its own, no driver
collect of rows, no one-task sort at 10^10 scale.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.urlnorm import canonicalize_udf

PRIORITY_COLS = ["round_enqueued", "parent_seq", "sibling_rank"]


# url_norm rides the frontier: expansions are canonicalized when they
# are discovered (expand_frontier), so no round ever re-canonicalizes
# its input — at ~300 outlinks/page the frontier is the engine's
# biggest row stream and a repeated pandas-UDF pass over it was the
# top cost in round-2 phase profiles. normalize is idempotent
# (hypothesis-tested), so admission semantics are unchanged.
FRONTIER_SCHEMA = (
    "url string, round_enqueued int, parent_seq long, sibling_rank int, "
    "url_norm string"
)

# v2: admission-derived columns ride the frontier file so no round ever
# re-derives them — host (a pandas-UDF urlparse pass over the engine's
# biggest row stream) and host_shard are computed exactly once, at
# admission (plans/crawl.py ``_admit``, fastround's pyarrow writer),
# with seq_bucket, the parent_seq range bucket the round's seq ranks
# by, and deferred, the per-host throttle's mark (false on every row
# without a throttle). Every frontier the crawl writes is v2; only seeds
# are built as v1 rows, and they are admitted on the driver (fastround's
# ``admit_seeds``, then its v2 table builder) before any round reads
# them.
FRONTIER_SCHEMA_V2 = FRONTIER_SCHEMA + ", host string, host_shard int, seq_bucket int, deferred boolean"


def seq_bucket(parent_seq: int, lo: int, hi: int, n_buckets: int) -> int:
    """The bucket of ``parent_seq`` among ``n_buckets`` equal slices of
    the parents' seq range [lo, hi); rows below ``lo`` (seeds, deferred
    rows) clamp to bucket 0. Monotone in parent_seq."""
    b = (parent_seq - lo) * n_buckets // max(hi - lo, 1)
    return min(n_buckets - 1, max(0, b))


def seq_bucket_col(lo: int, hi: int, n_buckets: int) -> Column:
    """``seq_bucket`` as a column expression over ``parent_seq``, equal
    to it row by row: the integer DIV keeps it exactly monotone."""
    b = F.expr(
        f"CAST(((parent_seq - {lo}L) * {n_buckets}L) DIV {max(hi - lo, 1)}L AS INT)"
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
    w = Window.partitionBy("seq_bucket").orderBy(*[F.col(c) for c in PRIORITY_COLS])
    seq = mapping[F.col("seq_bucket")] + F.row_number().over(w) - 1
    return frontier.withColumn("seq", seq.cast("long")), acc - start


def dedup_within_round(df: DataFrame, key: str = "url_norm") -> DataFrame:
    """First-occurrence-wins on the priority order: the sequential
    equivalent is pop-skip of later in-pool duplicates via the
    visited-at-pop check (scraper.py:77-79; J2 allows frontier dupes,
    url_tracker.py:84-87).

    Implemented as min(struct(priority, rest)) — lexicographic struct
    ordering with the priority triple leading equals the window-rank
    rule (the triple is unique), and a groupBy-min gets map-side
    partial aggregation that a row_number window cannot."""
    rest = [c for c in df.columns if c != key and c not in PRIORITY_COLS]
    ordered = PRIORITY_COLS + rest
    agg = df.groupBy(key).agg(
        F.min(F.struct(*[F.col(c) for c in ordered])).alias("_r")
    )
    return agg.select(key, *[F.col(f"_r.{c}").alias(c) for c in ordered])


def expand_frontier(
    pages: DataFrame, base_norm: str, next_round: int
) -> DataFrame:
    """J4/O4: per-page outlinks → normalized, scope-filtered, per-parent
    distinct, sibling-ranked candidate frontier rows for the next round.

    The admission anti-join vs the seen set (J1) is applied by the
    caller (operators.seen.anti_join_seen) against the seen set that
    includes this round's pages.

    Fast path: when the pages carry ``discovered_norm`` (the fetch
    kernel's pre-canonicalized, scope-filtered, per-parent
    distinct+sorted expansion set — operators/fetch.py), the per-parent
    set is already one row's array, so a single posexplode yields the
    sibling order with NO shuffle and NO canonicalize-UDF pass over the
    raw link stream. The groupBy(collect_set) path below remains for
    pages produced without the column (older snapshots, direct tests).
    """
    if "discovered_norm" in pages.columns:
        return (
            pages.filter(F.col("error").isNull())
            .filter(F.size("discovered_norm") > 0)
            .select(
                F.col("seq").alias("parent_seq"),
                F.posexplode("discovered_norm").alias("pos", "url_norm"),
            )
            .select(
                F.col("url_norm").alias("url"),
                F.lit(next_round).cast("int").alias("round_enqueued"),
                F.col("parent_seq"),
                (F.col("pos") + 1).cast("int").alias("sibling_rank"),
                F.col("url_norm"),
            )
        )
    links = (
        pages.filter(F.col("error").isNull())
        .filter(F.size("discovered_urls") > 0)
        .select(F.col("seq").alias("parent_seq"), F.explode("discovered_urls").alias("link"))
    )
    cand = links.withColumn("url_norm", canonicalize_udf(F.col("link"))).filter(
        F.col("url_norm").startswith(base_norm)  # scraper.py:102
    )
    # one shuffle instead of distinct + window: collect_set gives the
    # per-parent set semantics (scraper.py:99) with map-side partial
    # aggregation, sort_array + posexplode yields the sorted-expansion
    # sibling order (O4) without a second exchange
    grouped = cand.groupBy("parent_seq").agg(
        F.sort_array(F.collect_set("url_norm")).alias("urls")
    )
    return grouped.select(
        "parent_seq",
        F.posexplode("urls").alias("pos", "url_norm"),
    ).select(
        F.col("url_norm").alias("url"),
        F.lit(next_round).cast("int").alias("round_enqueued"),
        F.col("parent_seq"),
        (F.col("pos") + 1).cast("int").alias("sibling_rank"),
        F.col("url_norm"),
    )
