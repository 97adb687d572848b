"""Local mirror of the driver's correctness gate: run every queries()
entry on Spark at sf0.01 and its oracle_sql() on DuckDB over the same
parquet; compare row counts, column names, and order-insensitive
value multisets. Rows-only entries are checked for schema stability +
nonzero rows."""

from __future__ import annotations

import math
import os

import duckdb
import pytest

import __spark_entry__ as entrymod

SF_DIR = "/root/testdata/sf0.01"
TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def _duck(sql: str):
    con = duckdb.connect()
    try:
        for t in TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
        rel = con.sql(sql)
        rows = rel.fetchall()
        return rel.columns, rows, rel.fetchdf()
    finally:
        con.close()


# The driver's value hash is TYPE-sensitive: a DuckDB column coming
# back float64 (e.g. HUGEINT // INT) or int32 where Spark emits bigint
# hash-mismatches even when the values are equal (the round-3
# dataset_pack_sequences red). Width-check every numeric/bool column
# whose DuckDB pandas dtype is observable (no nulls).
_SPARK_TO_PD = {
    "bigint": "int64", "int": "int32", "smallint": "int16",
    "tinyint": "int8", "double": "float64", "float": "float32",
    "boolean": "bool",
}


def _check_dtype_parity(name, spark_dtypes, ddf):
    duck = {c: str(t) for c, t in zip(ddf.columns, ddf.dtypes)}
    for col, styp in spark_dtypes:
        want = _SPARK_TO_PD.get(styp)
        if want is None:
            continue  # strings/arrays/maps/decimals: not width-checked
        got = duck[col]
        if got == "object" or ddf[col].isnull().any():
            continue  # null-degraded dtype — width not observable
        assert got == want, (
            f"{name}.{col}: Spark {styp} vs DuckDB pandas {got} — the "
            "driver's value hash is type-sensitive; cast one side"
        )


def _norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return round(v, 6)
    if hasattr(v, "item"):  # numpy scalar / decimal-ish
        return _norm_cell(v.item()) if hasattr(v, "item") else v
    return v


def _row_multiset(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    # key=repr: None-safe total order; equal multisets sort identically
    return sorted(
        (tuple(_norm_cell(r[i]) for i in order) for r in rows), key=repr
    )


ORACLED = sorted(entrymod.oracle_sql().keys())
ROWS_ONLY = sorted(set(entrymod.queries()) - set(ORACLED))

# dev hook: WORMPY_SPARK_ORACLE_SUBSET="q1_pricing_summary,dedup_*"
# re-checks only the named queries (comma-separated, fnmatch patterns
# allowed) while iterating on one operator. Default: all queries —
# the driver's gate always runs the full set.
_subset = os.environ.get("WORMPY_SPARK_ORACLE_SUBSET")
if _subset:
    import fnmatch

    pats = [p.strip() for p in _subset.split(",") if p.strip()]

    def _keep(name: str) -> bool:
        return any(fnmatch.fnmatch(name, p) for p in pats)

    ORACLED = [n for n in ORACLED if _keep(n)]
    ROWS_ONLY = [n for n in ROWS_ONLY if _keep(n)]


# Per-query wall budget at sf0.01 (round-5 verdict #8): the driver's
# correctness sweep has a fixed time budget, and one silently-slow
# query can push later registry entries out of their driver rows —
# exactly how 24 queries lost coverage in round 5. 20 s leaves
# headroom for the ann_* cold-start (IVF index build + train sample)
# under full-suite contention while still catching the multi-minute
# regressions this guards against.
QUERY_WALL_BUDGET_S = 20.0


@pytest.mark.parametrize("name", ORACLED)
def test_query_matches_oracle(spark, name):
    import time

    fn = entrymod.queries()[name]
    t0 = time.time()
    sdf = fn(spark, SF_DIR)
    scols = sdf.columns
    srows = [tuple(r) for r in sdf.collect()]
    spark_wall = time.time() - t0
    assert spark_wall <= QUERY_WALL_BUDGET_S, (
        f"{name}: {spark_wall:.1f}s at sf0.01 exceeds the "
        f"{QUERY_WALL_BUDGET_S}s gate budget"
    )

    dcols, drows, ddf = _duck(entrymod.oracle_sql()[name])
    _check_dtype_parity(name, sdf.dtypes, ddf)

    assert sorted(scols) == sorted(dcols), f"{name}: column names differ"
    assert len(srows) == len(drows), f"{name}: row count {len(srows)} vs {len(drows)}"
    assert _row_multiset(scols, srows) == _row_multiset(dcols, drows), (
        f"{name}: value multiset differs"
    )


if ROWS_ONLY:
    # only defined while rows-only (non-SQL-expressible) queries exist;
    # today every query is oracled, so this generates no skipped test
    @pytest.mark.parametrize("name", ROWS_ONLY)
    def test_rows_only_queries_run(spark, name):
        fn = entrymod.queries()[name]
        df = fn(spark, SF_DIR)
        assert len(df.columns) > 0
        assert df.count() > 0


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0


def test_view_memo_is_per_session(spark):
    """Temp views belong to a SparkSession, not to its context: a second
    session on the same SparkContext starts with no views, so the view
    memo must register them again instead of reusing the first
    session's entry."""
    fn = entrymod.queries()["q3_shipping_priority"]
    first = fn(spark, SF_DIR)
    want = _row_multiset(first.columns, [tuple(r) for r in first.collect()])
    other = spark.newSession()
    second = fn(other, SF_DIR)
    got = _row_multiset(second.columns, [tuple(r) for r in second.collect()])
    assert got == want
