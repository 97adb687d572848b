"""As-of join — the time-series operator Spark's built-in joins lack
(cited in the task brief alongside range joins as a classic
custom-operator case; DuckDB/pandas ``merge_asof`` define the
semantics).

For every left row, attach the right row with the LARGEST
``right_time`` <= ``left_time`` within the same key (inclusive,
"backward" direction — the one the query registry uses).

Spark-first shape: tag both sides, union, and run ONE window pass per
key ordered by (time, origin) that carries the last non-null right
payload forward. That is a single hash exchange on the key + a
per-partition sort:

- no range-join explosion (a naive ``left.t >= right.t`` join is
  O(|L|·|R|) per key before dedup — quadratic on hot keys);
- no per-key collect, no driver state — scales to arbitrarily many
  keys, and a skewed key costs one partition's sort, which AQE's
  skew-split handles like any other window;
- ties: a right row AT the left timestamp matches (origin orders the
  right row first); callers must make (key, right_time) unique
  (pre-aggregate duplicates) or the matched payload among equal
  timestamps is unspecified — same contract as DuckDB ASOF JOIN.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

_INTERNAL = ("_t", "_o", "_p", "_mb")


def asof_join_backward(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_time: str,
    right_time: str,
    payload_cols: list[str],
    tolerance=None,
) -> DataFrame:
    """Left backward as-of join: all ``left`` columns plus
    ``payload_cols`` from the matched right row (null when no right row
    matches under ``tolerance``).

    ``tolerance`` (optional): a Column/literal in the time column's
    difference domain — a match further than ``tolerance`` from
    ``left_time`` is nulled out, like pandas
    ``merge_asof(tolerance=...)``. The matched right_time rides the
    payload struct, so the bound is a post-window projection: no extra
    shuffle."""
    for c in _INTERNAL:
        if c in left.columns:
            raise ValueError(f"left side already has internal column {c}")
    clash = sorted(set(payload_cols) & set(left.columns))
    if clash:
        # withColumn would silently overwrite the caller's data
        # (pandas merge_asof suffixes instead) — refuse loudly
        raise ValueError(
            f"payload_cols collide with left columns: {clash}; "
            "rename or pre-alias them on either side"
        )
    r = (
        right.select(
            on,
            F.col(right_time).alias("_t"),
            F.struct(
                F.col(right_time).alias("_rt"),
                *[F.col(c) for c in payload_cols],
            ).alias("_p"),
        )
        .withColumn("_o", F.lit(0))
    )
    l_side = (
        left.withColumn("_t", F.col(left_time))
        .withColumn("_o", F.lit(1))
    )
    u = l_side.unionByName(r, allowMissingColumns=True)

    # at equal _t the right row (_o=0) precedes the left row, so an
    # exact-timestamp right row matches
    wb = (
        Window.partitionBy(on)
        .orderBy("_t", "_o")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    out = u.withColumn("_mb", F.last("_p", ignorenulls=True).over(wb))
    out = out.filter(F.col("_o") == 1)
    if tolerance is not None:
        out = out.withColumn(
            "_mb",
            F.when(F.col("_mb._rt") >= F.col(left_time) - tolerance, F.col("_mb")),
        )

    for c in payload_cols:
        out = out.withColumn(c, F.col(f"_mb.{c}"))
    return out.drop(*[c for c in _INTERNAL if c in out.columns])
