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
sequence WITHOUT a single-partition window: range-repartition on the
priority, per-partition row_number, plus broadcast partition offsets —
the standard scalable global-rank pattern (no driver collect of rows,
no one-task sort at 10^10 scale).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.urlnorm import canonicalize_udf

PRIORITY_COLS = ["round_enqueued", "parent_seq", "sibling_rank"]


class _SeqCaches:
    """Bundle of the two persisted DataFrames assign_global_seq takes;
    callers release both with one unpersist()."""

    def __init__(self, *dfs):
        self._dfs = dfs

    def unpersist(self):
        for d in self._dfs:
            d.unpersist()

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
# biggest row stream), url_hash, host_shard are computed exactly once,
# at admission (plans/crawl.py ``_admit``, fastround's pyarrow writer).
# Every frontier the crawl writes is v2; only seeds are built as v1 rows,
# and they pass admission before any round reads them.
FRONTIER_SCHEMA_V2 = FRONTIER_SCHEMA + ", host string, url_hash long, host_shard int"


def assign_global_seq(
    df: DataFrame,
    order_cols: list[str] | None = None,
    start: int = 0,
    seq_col: str = "seq",
    n_partitions: int | None = None,
) -> tuple[DataFrame, int, DataFrame]:
    """Dense 0-based global sequence in (order_cols) order, offset by
    ``start``. Scales: range partition → local rank → offset map.
    ``order_cols`` must be a total order (the priority triple is unique
    by construction). Returns (df_with_seq, row_count, cache_handle) —
    the count is a free by-product of the offset computation.

    TWO caches are bundled into the handle:
    - the INPUT is persisted because repartitionByRange's range
      partitioner runs a separate SAMPLING job over its child — without
      the cache every caller's upstream chain is computed twice per
      call;
    - the ranged output is persisted because repartitionByRange samples
      its boundaries per execution (RDD-id-seeded), so without it the
      counts job and the downstream job could place a boundary row in
      different partitions, corrupting the offsets.
    The counts collect materializes both caches; the caller must
    unpersist the handle once downstream results are materialized."""
    order_cols = order_cols or PRIORITY_COLS
    spark = df.sparkSession
    if n_partitions is None:
        n_partitions = int(spark.conf.get("spark.sql.shuffle.partitions"))
    src = df.persist()
    ranged = src.repartitionByRange(
        n_partitions, *[F.col(c) for c in order_cols]
    )
    ranged = ranged.withColumn("_pid", F.spark_partition_id()).persist()
    counts = {r["_pid"]: r["cnt"] for r in ranged.groupBy("_pid").agg(F.count("*").alias("cnt")).collect()}
    offsets: dict[int, int] = {}
    acc = start
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    total = acc - start
    handle = _SeqCaches(src, ranged)
    if not offsets:  # empty input — keep the schema, no rows
        return ranged.drop("_pid").withColumn(seq_col, F.lit(0).cast("long")), 0, handle
    mapping = F.create_map(
        *[F.lit(x) for pid_off in offsets.items() for x in pid_off]
    )
    w = Window.partitionBy("_pid").orderBy(*[F.col(c) for c in order_cols])
    out = (
        ranged.withColumn(
            seq_col,
            (mapping[F.col("_pid")] + F.row_number().over(w) - 1).cast("long"),
        )
        .drop("_pid")
    )
    return out, total, handle


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
