"""Analytics + training-data-pipeline query registry.

Every entry pairs a Spark implementation with an ANSI-SQL oracle that
DuckDB runs on the same parquet tables (the driver's correctness gate).
Cross-engine determinism rules used throughout:

- fingerprints/hashes: md5 (identical hex in both engines) or explicit
  char-polynomial rolling hashes via Spark ``aggregate()`` /
  DuckDB ``list_reduce`` with the same modulus — never engine hash()
- float outputs rounded (2-4 dp) and aliased identically
- thresshold comparisons on integers where possible (jaccard via
  ``10*inter >= 8*union`` — exact, no fp)
- timestamps surfaced as epoch seconds (bigint) to avoid tz/format
  drift between engines

The relational queries double as the operator-coverage matrix for
SURVEY.md §2 over the driver's TPC-H-ish corpus: scans/filters (§2.2),
anti/semi joins (§2.3 J1/J2), first-wins dedup (J5), aggregations
(§2.4), window ordering/top-k/budget cuts (§2.5), grouping sets, and
sessionization as the stateful/streaming analogue (§2.7).
"""

from __future__ import annotations

import weakref

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


# session -> {table name: registered sf_dir}. View registration is
# metadata-only (temp views are lazy scans — every query still computes
# from parquet), but each registration re-reads the parquet footer for
# schema; a 35-query benchmark sweep re-registered 10 tables per query
# call. Temp views belong to a SparkSession, not to its SparkContext
# (``spark.newSession()`` shares the context but starts with no views),
# so the memo is keyed on the session object; weak keys let a stopped
# session's entry go with it. A different sf_dir re-registers.
_VIEWS_REGISTERED: weakref.WeakKeyDictionary[SparkSession, dict[str, str]] = (
    weakref.WeakKeyDictionary()
)


def load_views(spark: SparkSession, sf_dir: str) -> None:
    """Register the sf tables as temp views (idempotent, memoized)."""
    registered = _VIEWS_REGISTERED.setdefault(spark, {})
    for name in TABLES:
        if registered.get(name) == sf_dir:
            continue
        spark.read.parquet(f"{sf_dir}/{name}.parquet").createOrReplaceTempView(name)
        registered[name] = sf_dir


def _sql(statement: str):
    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        load_views(spark, sf_dir)
        return spark.sql(statement)

    return fn


# ---------------------------------------------------------------------------
# Relational core (operator coverage over the TPC-H-ish corpus)
# ---------------------------------------------------------------------------

# Flagship: TPC-H Q1-style pricing summary — partial+final agg, the
# canonical "does map-side combine + codegen happen" plan.
Q1_SPARK = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2)                                   AS sum_qty,
       round(sum(l_extendedprice), 2)                              AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2)           AS sum_disc_price,
       round(avg(l_quantity), 4)                                   AS avg_qty,
       round(avg(l_discount), 4)                                   AS avg_disc,
       count(*)                                                    AS count_order
FROM lineitem
WHERE l_shipdate <= timestamp'2000-12-01'
GROUP BY l_returnflag, l_linestatus
"""

# Q3-style shipping priority: selective 3-way join + top-k
Q3_SQL = """
SELECT o.o_orderkey,
       round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
       o.o_orderpriority
FROM customer c
JOIN orders o    ON c.c_custkey = o.o_custkey
JOIN lineitem l  ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < timestamp'1998-03-15'
  AND l.l_shipdate  > timestamp'1998-03-15'
GROUP BY o.o_orderkey, o.o_orderpriority
ORDER BY revenue DESC, o_orderkey
LIMIT 10
"""

# Q5-style local-supplier revenue: 6-way star join, region filter
Q5_SQL = """
SELECT n.n_name,
       round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
FROM customer c
JOIN orders o   ON c.c_custkey  = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON l.l_suppkey  = s.s_suppkey AND c.c_nationkey = s.s_nationkey
JOIN nation n   ON c.c_nationkey = n.n_nationkey
JOIN region r   ON n.n_regionkey = r.r_regionkey
WHERE r.r_name = 'ASIA'
GROUP BY n.n_name
"""

# Q6-style forecast revenue: the canonical scan-dominant query — every
# predicate must reach the parquet reader (PushedFilters on shipdate /
# discount / quantity), zero joins, one partial+final agg.
Q6_SQL = """
SELECT CAST(floor((CAST(sum(CAST(round(l_extendedprice * l_discount * 10000)
                                 AS BIGINT)) AS DOUBLE) + 50) / 100.0)
            AS DOUBLE) / 100.0 AS revenue
FROM lineitem
WHERE l_shipdate >= timestamp'1996-01-01'
  AND l_shipdate <  timestamp'1997-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
"""

# Q4-style order-priority count: correlated EXISTS (Catalyst rewrites
# it to a left-semi join on l_orderkey with the date filter pushed to
# both sides).
Q4_SQL = """
SELECT o_orderpriority, count(*) AS order_count
FROM orders o
WHERE o.o_orderdate >= timestamp'1996-07-01'
  AND o.o_orderdate <  timestamp'1996-10-01'
  AND EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey
                AND l.l_shipdate > o.o_orderdate)
GROUP BY o_orderpriority
"""

# Q10-style returned-item ranking: selective fact filter, 4-way join,
# revenue top-k. nation is broadcast; customer⋈orders⋈lineitem shuffle
# on the key columns only (ReadSchema pruned to the 9 used columns).
Q10_SQL = """
SELECT c.c_custkey, c.c_name,
       CAST(floor((CAST(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount)
                                       * 10000) AS BIGINT)) AS DOUBLE) + 50)
                  / 100.0) AS DOUBLE) / 100.0 AS revenue,
       n.n_name
FROM customer c
JOIN orders o   ON c.c_custkey  = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN nation n   ON c.c_nationkey = n.n_nationkey
WHERE o.o_orderdate >= timestamp'1996-01-01'
  AND o.o_orderdate <  timestamp'1996-04-01'
  AND l.l_returnflag = 'R'
GROUP BY c.c_custkey, c.c_name, n.n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""

# Q14-style promo effect: conditional aggregation over a fact⋈dim join
# (part is the small side → broadcast). Single-row result; ratio
# rounded to 4 dp for cross-engine float stability.
Q14_SQL = """
SELECT round(100.0 * CAST(sum(CASE WHEN p.p_type = 'PROMO'
                                   THEN CAST(round(l.l_extendedprice
                                                   * (1 - l.l_discount) * 10000)
                                             AS BIGINT)
                                   ELSE 0 END) AS DOUBLE)
             / CAST(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 10000)
                             AS BIGINT)) AS DOUBLE), 4)
       AS promo_revenue_pct
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
WHERE l.l_shipdate >= timestamp'1996-09-01'
  AND l.l_shipdate <  timestamp'1996-10-01'
"""

# Q16-style supplier variety: COUNT(DISTINCT) per group after a
# dim-filtered join — the distinct expands to a two-level aggregate
# (partial distinct per partition, then final), no row explosion.
Q16_SQL = """
SELECT p.p_brand, p.p_type, count(DISTINCT l.l_suppkey) AS supplier_cnt
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
WHERE p.p_size IN (1, 14, 23, 45) AND p.p_type <> 'ECONOMY'
GROUP BY p.p_brand, p.p_type
ORDER BY supplier_cnt DESC, p_brand, p_type
LIMIT 20
"""

# Q18-style large-volume orders: HAVING over a grouped fact, then the
# group keys join back to the dims. qty kept as round(...,2) — Spark
# CAST(double AS BIGINT) truncates while DuckDB rounds, so an integer
# cast here would be a cross-engine trap.
Q18_SQL = """
SELECT c.c_custkey, c.c_name, o.o_orderkey, o.o_totalprice,
       round(CAST(sum(CAST(round(l.l_quantity * 100) AS BIGINT)) AS DOUBLE)
             / 100.0, 2) AS total_qty
FROM customer c
JOIN orders o   ON c.c_custkey  = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
GROUP BY c.c_custkey, c.c_name, o.o_orderkey, o.o_totalprice
HAVING sum(CAST(round(l.l_quantity * 100) AS BIGINT)) > 15000
ORDER BY o.o_totalprice DESC, o.o_orderkey
LIMIT 20
"""

# Q22-style idle high-balance customers: scalar subquery threshold
# (rounded to 2 dp so the float boundary is engine-exact) + NOT EXISTS
# anti join on RECENT orders (an unconditional "no orders ever" is
# vacuous on this corpus — every high-balance customer has ordered),
# per-nation rollup.
Q22_SQL = """
SELECT c.c_nationkey,
       count(*) AS numcust,
       round(CAST(sum(CAST(round(c.c_acctbal * 100) AS BIGINT)) AS DOUBLE)
             / 100.0, 2) AS totacctbal
FROM customer c
WHERE c.c_acctbal > (SELECT round(avg(c_acctbal), 2) FROM customer
                     WHERE c_acctbal > 0)
  AND NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderdate >= timestamp'1999-01-01')
GROUP BY c.c_nationkey
"""

# Q7-style nation-pair volume: two roles of the same dim table in one
# plan (supplier nation vs customer nation — nation is broadcast into
# both probes), symmetric pair predicate, per-year rollup. year() is
# INT in Spark and BIGINT in DuckDB — cast both sides.
Q7_SQL = """
SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
       CAST(year(l.l_shipdate) AS BIGINT) AS l_year,
       CAST(floor((CAST(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount)
                                       * 10000) AS BIGINT)) AS DOUBLE) + 50)
                  / 100.0) AS DOUBLE) / 100.0 AS revenue
FROM lineitem l
JOIN orders o   ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey  = c.c_custkey
JOIN supplier s ON l.l_suppkey  = s.s_suppkey
JOIN nation sn  ON s.s_nationkey = sn.n_nationkey
JOIN nation cn  ON c.c_nationkey = cn.n_nationkey
WHERE (sn.n_name = 'NATION_1' AND cn.n_name = 'NATION_2')
   OR (sn.n_name = 'NATION_2' AND cn.n_name = 'NATION_1')
GROUP BY sn.n_name, cn.n_name, CAST(year(l.l_shipdate) AS BIGINT)
"""

# Q8-style market share: of all revenue billed to ASIA customers,
# the fraction supplied by NATION_1 suppliers, per year — CASE inside
# one aggregate pass over a 6-way star join; ratio at 4 dp through
# exact integer numerators.
Q8_SQL = """
SELECT CAST(year(l.l_shipdate) AS BIGINT) AS l_year,
       round(CAST(sum(CASE WHEN sn.n_name = 'NATION_1'
                           THEN CAST(round(l.l_extendedprice
                                           * (1 - l.l_discount) * 10000)
                                     AS BIGINT)
                           ELSE 0 END) AS DOUBLE)
             / CAST(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount)
                                   * 10000) AS BIGINT)) AS DOUBLE), 4)
         AS mkt_share
FROM lineitem l
JOIN orders o   ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey  = c.c_custkey
JOIN supplier s ON l.l_suppkey  = s.s_suppkey
JOIN nation sn  ON s.s_nationkey = sn.n_nationkey
JOIN nation cn  ON c.c_nationkey = cn.n_nationkey
JOIN region r   ON cn.n_regionkey = r.r_regionkey
WHERE r.r_name = 'ASIA'
GROUP BY CAST(year(l.l_shipdate) AS BIGINT)
"""

# Q13-style order-count distribution: LEFT OUTER join preserving
# order-less customers, then a second aggregation OVER the first's
# result (group on an aggregate) — two shuffles, both map-side
# combinable.
Q13_SQL = """
SELECT c_count, count(*) AS custdist
FROM (SELECT c.c_custkey, count(o.o_orderkey) AS c_count
      FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
      GROUP BY c.c_custkey) t
GROUP BY c_count
"""

# Q15-style top supplier: scalar MAX subquery over a shared CTE —
# the revenue rollup is computed once, its max once, and the
# tie-inclusive equality join picks the winner(s) deterministically.
Q15_SQL = """
WITH rev AS (
  SELECT l_suppkey,
         sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000)
                  AS BIGINT)) AS total
  FROM lineitem
  WHERE l_shipdate >= timestamp'1996-01-01'
    AND l_shipdate <  timestamp'1996-04-01'
  GROUP BY l_suppkey)
SELECT s.s_suppkey, s.s_name,
       CAST(floor((CAST(r.total AS DOUBLE) + 50) / 100.0) AS DOUBLE)
         / 100.0 AS total_rev
FROM rev r JOIN supplier s ON r.l_suppkey = s.s_suppkey
WHERE r.total = (SELECT max(total) FROM rev)
"""

# Q17-style small-quantity revenue: per-part average joined back to
# the fact — the "below 20% of that part's average quantity" predicate
# stated in EXACT integers (5·centiqty·n < sum_centiqty), so no float
# threshold can flip rows between engines.
Q17_SQL = """
WITH pa AS (
  SELECT l_partkey,
         sum(CAST(round(l_quantity * 100) AS BIGINT)) AS sq,
         count(*) AS n
  FROM lineitem GROUP BY l_partkey)
SELECT round(CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT))
                  AS DOUBLE) / 100.0 / 7.0, 2) AS avg_yearly
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
JOIN pa    ON pa.l_partkey = l.l_partkey
WHERE p.p_brand = 'Brand#1'
  AND CAST(round(l.l_quantity * 100) AS BIGINT) * pa.n * 5 < pa.sq
"""

# Q19-style OR-of-ANDs: three brand/size/quantity conjunction arms
# OR'd — the classic disjunctive-pushdown test (Catalyst must still
# push the common join key and prune columns under the OR).
Q19_SQL = """
SELECT CAST(floor((CAST(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount)
                                       * 10000) AS BIGINT)) AS DOUBLE) + 50)
                  / 100.0) AS DOUBLE) / 100.0 AS revenue
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 15
       AND l.l_quantity BETWEEN 1 AND 21)
   OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 1 AND 25
       AND l.l_quantity BETWEEN 10 AND 30)
   OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 1 AND 35
       AND l.l_quantity BETWEEN 20 AND 40)
"""

# Orders status×priority matrix via real PIVOT syntax on the Spark
# side; the DuckDB oracle states the same contract as conditional
# aggregation (PIVOT is sugar for it — proving the equivalence IS the
# test).
PIVOT_SPARK = """
SELECT o_orderpriority,
       coalesce(n_f, 0) AS n_f,
       coalesce(n_o, 0) AS n_o,
       coalesce(n_p, 0) AS n_p
FROM (SELECT o_orderpriority, o_orderstatus FROM orders)
PIVOT (count(o_orderstatus) FOR o_orderstatus IN ('F' AS n_f, 'O' AS n_o, 'P' AS n_p))
"""
PIVOT_DUCK = """
SELECT o_orderpriority,
       count(*) FILTER (WHERE o_orderstatus = 'F') AS n_f,
       count(*) FILTER (WHERE o_orderstatus = 'O') AS n_o,
       count(*) FILTER (WHERE o_orderstatus = 'P') AS n_p
FROM orders
GROUP BY o_orderpriority
"""

# J1 analogue: LEFT ANTI — orders whose customer has no high balance
ANTI_SQL_SPARK = """
SELECT o.o_orderkey, o.o_custkey
FROM orders o LEFT ANTI JOIN
     (SELECT c_custkey FROM customer WHERE c_acctbal > 5000) c
     ON o.o_custkey = c.c_custkey
"""
ANTI_SQL_DUCK = """
SELECT o.o_orderkey, o.o_custkey
FROM orders o
WHERE NOT EXISTS (SELECT 1 FROM customer c
                  WHERE c.c_custkey = o.o_custkey AND c.c_acctbal > 5000)
"""

# LEFT SEMI — customers with at least one finished order
SEMI_SQL_SPARK = """
SELECT c.c_custkey, c.c_name
FROM customer c LEFT SEMI JOIN
     (SELECT o_custkey FROM orders WHERE o_orderstatus = 'F') o
     ON c.c_custkey = o.o_custkey
"""
SEMI_SQL_DUCK = """
SELECT c.c_custkey, c.c_name
FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o
              WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')
"""

# J5 analogue: first-occurrence-wins dedup (window row_number = 1)
DEDUP_FIRST_SQL = """
SELECT l_orderkey, l_linenumber, l_partkey
FROM (SELECT l_orderkey, l_linenumber, l_partkey,
             row_number() OVER (PARTITION BY l_orderkey
                                ORDER BY l_linenumber, l_partkey) AS rn
      FROM lineitem)
WHERE rn = 1
"""

# O1-O7 analogue: deterministic top-k per group
TOPK_GROUP_SQL = """
SELECT l_returnflag, l_orderkey, l_linenumber,
       round(l_extendedprice, 2) AS price
FROM (SELECT l_returnflag, l_orderkey, l_linenumber, l_extendedprice,
             row_number() OVER (PARTITION BY l_returnflag
                                ORDER BY l_extendedprice DESC,
                                         l_orderkey, l_linenumber) AS rn
      FROM lineitem)
WHERE rn <= 3
"""

# global budget cut (P9/O7): top 100 orders by totalprice
GLOBAL_TOPK_SQL = """
SELECT o_orderkey, round(o_totalprice, 2) AS total
FROM orders
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 100
"""

# cube / grouping sets over lineitem flags
CUBE_SQL = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty, count(*) AS n
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
"""

# ROLLUP (hierarchical subtotals) + GROUPING() disambiguation: the
# grouping-id bit distinguishes a real NULL group key from a subtotal
# row identically in both engines.
ROLLUP_SQL = """
SELECT o_orderstatus, o_orderpriority,
       CAST(grouping(o_orderstatus) AS BIGINT)   AS g_status,
       CAST(grouping(o_orderpriority) AS BIGINT) AS g_prio,
       count(*) AS n,
       round(CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                  AS DOUBLE) / 100.0, 2) AS total
FROM orders
GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
"""

# LAG window: per-user inter-event gap distribution, bucketed — the
# sessionization primitive surfaced as its own operator. One hash
# exchange on user_id. Gaps in exact integer MICROSECONDS
# (unix_micros / epoch_us) — second-truncating functions disagree
# across engines on sub-second timestamps.
EVENT_GAPS_SQL = """
WITH g AS (
  SELECT user_id,
         unix_micros(CAST(ts AS TIMESTAMP))
           - unix_micros(CAST(lag(ts) OVER
               (PARTITION BY user_id ORDER BY ts, event_id) AS TIMESTAMP))
           AS gap_us
  FROM events)
SELECT CAST(least(gap_us DIV 600000000, 12) AS BIGINT) AS bucket,
       count(*) AS n,
       min(gap_us) AS min_gap_us,
       max(gap_us) AS max_gap_us
FROM g WHERE gap_us IS NOT NULL
GROUP BY CAST(least(gap_us DIV 600000000, 12) AS BIGINT)
"""
# JSON extraction from the events.props payload column (semi-
# structured analytics): per-event-type stats over the extracted
# integer. Spark get_json_object / DuckDB json_extract both yield the
# scalar; exact BIGINT aggregation keeps the engines bit-identical.
JSON_PROPS_SQL_SPARK = """
SELECT event_type,
       count(*) AS n,
       sum(CAST(get_json_object(props, '$.k') AS BIGINT)) AS sum_k,
       max(CAST(get_json_object(props, '$.k') AS BIGINT)) AS max_k
FROM events
WHERE props IS NOT NULL
GROUP BY event_type
"""
JSON_PROPS_SQL_DUCK = """
SELECT event_type,
       count(*) AS n,
       CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT)
         AS sum_k,
       max(CAST(json_extract(props, '$.k') AS BIGINT)) AS max_k
FROM events
WHERE props IS NOT NULL
GROUP BY event_type
"""

# SQL set operations (INTERSECT / EXCEPT / UNION, all distinct-
# semantics) over the two 1996 half-year buyer sets — each op is its
# own aggregate-then-join plan shape in Spark.
SET_OPS_SQL = """
WITH h1 AS (SELECT DISTINCT o_custkey FROM orders
            WHERE o_orderdate >= timestamp'1996-01-01'
              AND o_orderdate <  timestamp'1996-07-01'),
h2 AS (SELECT DISTINCT o_custkey FROM orders
       WHERE o_orderdate >= timestamp'1996-07-01'
         AND o_orderdate <  timestamp'1997-01-01')
SELECT
  (SELECT count(*) FROM (SELECT * FROM h1 INTERSECT SELECT * FROM h2) a)
    AS n_both,
  (SELECT count(*) FROM (SELECT * FROM h1 EXCEPT SELECT * FROM h2) b)
    AS n_only_h1,
  (SELECT count(*) FROM (SELECT * FROM h1 UNION SELECT * FROM h2) c)
    AS n_either
"""

EVENT_GAPS_DUCK = """
WITH g AS (
  SELECT user_id,
         epoch_us(ts) - epoch_us(lag(ts) OVER
             (PARTITION BY user_id ORDER BY ts, event_id)) AS gap_us
  FROM events)
SELECT CAST(least(gap_us // 600000000, 12) AS BIGINT) AS bucket,
       count(*) AS n,
       min(gap_us) AS min_gap_us,
       max(gap_us) AS max_gap_us
FROM g WHERE gap_us IS NOT NULL
GROUP BY CAST(least(gap_us // 600000000, 12) AS BIGINT)
"""

# per-host fetch-count analogue (A3): per event_type hourly rollup
EVENTS_HOURLY_SQL_SPARK = """
SELECT unix_timestamp(date_trunc('hour', ts)) AS hour_epoch,
       event_type,
       count(*) AS n,
       round(sum(value), 2) AS sum_value
FROM events
GROUP BY 1, 2
"""
EVENTS_HOURLY_SQL_DUCK = """
SELECT epoch(date_trunc('hour', ts))::BIGINT AS hour_epoch,
       event_type,
       count(*) AS n,
       round(sum(value), 2) AS sum_value
FROM events
GROUP BY 1, 2
"""

# stateful/streaming analogue (T1/T4): 30-min-gap sessionization
SESSION_SQL_SPARK = """
WITH marked AS (
  SELECT user_id,
         CASE WHEN unix_timestamp(ts)
                   - unix_timestamp(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))
                   > 1800
              OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM events)
SELECT user_id, sum(new_session) AS n_sessions
FROM marked GROUP BY user_id
"""
# sum(int) is HUGEINT in DuckDB (arrow decimal128) but BIGINT in Spark;
# the driver's row hash is type-sensitive, so cast explicitly.
SESSION_SQL_DUCK = """
WITH marked AS (
  SELECT user_id,
         CASE WHEN epoch(ts)::BIGINT
                   - epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))::BIGINT
                   > 1800
              OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM events)
SELECT user_id, sum(new_session)::BIGINT AS n_sessions
FROM marked GROUP BY user_id
"""

# running aggregate (window) — last cumulative value per customer
RUNNING_SQL = """
SELECT o_custkey, round(max(running), 2) AS final_running
FROM (SELECT o_custkey,
             sum(o_totalprice) OVER (PARTITION BY o_custkey
                                     ORDER BY o_orderdate, o_orderkey) AS running
      FROM orders)
GROUP BY o_custkey
"""


# ---------------------------------------------------------------------------
# Text-analysis ops (documents table) — SQL in both engines
# ---------------------------------------------------------------------------

# exact dedup: content fingerprint groups (md5 is identical hex both engines)
DEDUP_EXACT_SQL = """
SELECT md5(lower(trim(text))) AS fingerprint,
       count(*)               AS n_docs,
       min(doc_id)            AS min_doc_id
FROM documents
GROUP BY 1
"""

# n-gram (word 3-gram) jaccard near-dup pairs; integer-exact threshold
NGRAM_JACCARD_SPARK = """
WITH words AS (
  SELECT doc_id, split(trim(lower(text)), '\\\\s+') AS w FROM documents),
sh AS (
  SELECT DISTINCT doc_id, sh FROM (
    SELECT doc_id,
           explode(transform(sequence(1, size(w) - 2),
                   i -> concat_ws(' ', element_at(w, i),
                                       element_at(w, i + 1),
                                       element_at(w, i + 2)))) AS sh
    FROM words WHERE size(w) >= 3)),
cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT doc_a, doc_b, inter,
       (ca.n + cb.n - inter) AS union_n
FROM pairs JOIN cnt ca ON ca.doc_id = doc_a JOIN cnt cb ON cb.doc_id = doc_b
WHERE 10 * inter >= 8 * (ca.n + cb.n - inter)
"""
NGRAM_JACCARD_DUCK = """
WITH words AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS w FROM documents),
sh AS (
  SELECT DISTINCT doc_id, sh FROM (
    SELECT doc_id,
           unnest(list_transform(range(1, len(w) - 1),
                  i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS sh
    FROM words WHERE len(w) >= 3)),
cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT doc_a, doc_b, inter,
       (ca.n + cb.n - inter) AS union_n
FROM pairs JOIN cnt ca ON ca.doc_id = doc_a JOIN cnt cb ON cb.doc_id = doc_b
WHERE 10 * inter >= 8 * (ca.n + cb.n - inter)
"""

# TF-IDF top-terms per document. The idf is the BM25-flavored rational
# (N - df + 0.5)/(df + 0.5) rather than a log: every input is an exact
# small integer ± 0.5, and IEEE requires exactly-rounded * and /, so
# the score is BIT-IDENTICAL across engines (ln() is only
# faithfully-rounded and could diverge in the last ulp on a tie).
# Deterministic top-3 by (score DESC, term ASC).
TFIDF_SPARK = """
WITH words AS (
  SELECT doc_id, explode(split(trim(lower(text)), '\\\\s+')) AS term
  FROM documents),
tf AS (SELECT doc_id, term, count(*) AS tf FROM words GROUP BY 1, 2),
df AS (SELECT term, count(DISTINCT doc_id) AS df FROM words GROUP BY 1),
n AS (SELECT count(*) AS n FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term,
         round(tf.tf * (n.n - df.df + 0.5D) / (df.df + 0.5D), 4) AS tfidf,
         row_number() OVER (
           PARTITION BY tf.doc_id
           ORDER BY tf.tf * (n.n - df.df + 0.5D) / (df.df + 0.5D) DESC,
                    tf.term) AS rk
  FROM tf JOIN df ON tf.term = df.term CROSS JOIN n)
SELECT doc_id, term, tfidf, CAST(rk AS BIGINT) AS rk
FROM scored WHERE rk <= 3
"""
TFIDF_DUCK = """
WITH words AS (
  SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS term
  FROM documents),
tf AS (SELECT doc_id, term, count(*) AS tf FROM words GROUP BY 1, 2),
df AS (SELECT term, count(DISTINCT doc_id) AS df FROM words GROUP BY 1),
n AS (SELECT count(*) AS n FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term,
         round(tf.tf * (n.n - df.df + 0.5) / (df.df + 0.5), 4) AS tfidf,
         row_number() OVER (
           PARTITION BY tf.doc_id
           ORDER BY tf.tf * (n.n - df.df + 0.5) / (df.df + 0.5) DESC,
                    tf.term) AS rk
  FROM tf JOIN df ON tf.term = df.term CROSS JOIN n)
SELECT doc_id, term, tfidf, rk FROM scored WHERE rk <= 3
"""

# skew-robust distinct count: COUNT(DISTINCT) on a hot group key makes
# ONE reducer deduplicate that key's whole value set. The scale form
# shards each group by a hash of the VALUE (disjoint value partitions ⇒
# partial distinct counts add exactly), turning the hot group into 16
# parallel reducers — the salting pattern made explicit. The salt is
# internal, so a plain COUNT(DISTINCT) is the oracle.
SALTED_DISTINCT_SPARK = """
WITH sharded AS (
  SELECT event_type, pmod(xxhash64(user_id), 16) AS shard,
         count(DISTINCT user_id) AS part
  FROM events GROUP BY event_type, pmod(xxhash64(user_id), 16))
SELECT event_type, sum(part) AS n_users
FROM sharded GROUP BY event_type
"""
SALTED_DISTINCT_DUCK = """
SELECT event_type, count(DISTINCT user_id) AS n_users
FROM events GROUP BY event_type
"""

# exact per-group quantiles (p50/p95/p99 of event value): Spark
# percentile() and DuckDB quantile_cont() are both the exact
# interpolated quantile — same (n-1)·q arithmetic — so rounded outputs
# agree. (approx_percentile/t-digest would NOT cross-check; the exact
# sort-based form is the oracle-able one, and at scale the per-group
# sort is a partial_sort inside each hash partition.)
QUANTILES_SPARK = """
SELECT event_type,
       round(percentile(value, 0.5),  4) AS p50,
       round(percentile(value, 0.95), 4) AS p95,
       round(percentile(value, 0.99), 4) AS p99,
       count(*) AS n
FROM events GROUP BY event_type
"""
QUANTILES_DUCK = """
SELECT event_type,
       round(quantile_cont(value, 0.5),  4) AS p50,
       round(quantile_cont(value, 0.95), 4) AS p95,
       round(quantile_cont(value, 0.99), 4) AS p99,
       count(*) AS n
FROM events GROUP BY event_type
"""

# deterministic dataset split (train/val/test 90/5/5): the reproducible
# hash-split every training pipeline needs — adding documents never
# reshuffles existing assignments (pure function of doc_id + salt).
# Uses the repo's portable char-polynomial hash (same pattern as the
# fingerprint/simhash queries) so both engines agree bit-for-bit;
# engine-native hash() would not be portable.
SPLIT_ASSIGN_SPARK = """
WITH h AS (
  SELECT doc_id,
         aggregate(split(concat(cast(doc_id AS string), ':v1'), ''), 0L,
                   (a, c) -> (a * 31 + ascii(c)) % 1000000007) % 100 AS b
  FROM documents)
SELECT doc_id, b AS bucket,
       CASE WHEN b < 90 THEN 'train' WHEN b < 95 THEN 'val'
            ELSE 'test' END AS split
FROM h
"""
SPLIT_ASSIGN_DUCK = """
WITH h AS (
  SELECT doc_id,
         list_reduce(list_prepend(0::BIGINT,
             list_transform(string_split(doc_id::VARCHAR || ':v1', ''),
                            c -> ascii(c)::BIGINT)),
             (a, c) -> (a * 31 + c) % 1000000007) % 100 AS b
  FROM documents)
SELECT doc_id, b AS bucket,
       CASE WHEN b < 90 THEN 'train' WHEN b < 95 THEN 'val'
            ELSE 'test' END AS split
FROM h
"""

# sequence packing: assign docs to fixed-token-budget packs (context-
# window batch packing for LLM training). Contiguous packing in doc_id
# order WITHIN bounded shards (1000 docs) — the shard key keeps every
# window partition small and parallel (a single global ORDER BY window
# would serialize at 100 TB); a doc belongs to the pack its cumulative
# offset starts in. (shard, pack_in_shard) is the stable global pack id.
PACK_SQL = """
WITH t AS (
  SELECT doc_id, CAST(doc_id / 1000 AS BIGINT) AS shard,
         CAST(size(split(trim(lower(text)), '\\\\s+')) AS BIGINT) AS n_tokens
  FROM documents),
c AS (
  SELECT doc_id, shard, n_tokens,
         sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                             ROWS UNBOUNDED PRECEDING) - n_tokens AS off
  FROM t)
SELECT doc_id, shard, n_tokens,
       CAST(off / 4096 AS BIGINT) AS pack_in_shard
FROM c
"""
PACK_DUCK = """
WITH t AS (
  SELECT doc_id, doc_id // 1000 AS shard,
         len(regexp_split_to_array(trim(lower(text)), '\\s+')) AS n_tokens
  FROM documents),
c AS (
  SELECT doc_id, shard, n_tokens,
         sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                             ROWS UNBOUNDED PRECEDING) - n_tokens AS off
  FROM t)
SELECT doc_id, shard, n_tokens,
       -- DuckDB: sum() OVER an integer col is HUGEINT and HUGEINT // INT
       -- comes back DOUBLE (reproduced: pandas dtype float64), which
       -- breaks the driver's type-sensitive row hash vs Spark's BIGINT.
       CAST(off // 4096 AS BIGINT) AS pack_in_shard
FROM c
"""

# bigram collocations: top adjacent word pairs by lift
# nxy·N / (nx·ny) — the PMI argument without the log, so the score is
# a quotient of exactly-representable integers (< 2^53) and IEEE
# division makes it bit-identical across engines. Deterministic top-50
# by (lift DESC, w1, w2). Arrays are 1-indexed in BOTH dialects used
# (Spark element_at, DuckDB w[i]).
BIGRAM_LIFT_SPARK = """
WITH words AS (
  SELECT split(trim(lower(text)), '\\\\s+') AS w FROM documents),
uni AS (SELECT explode(w) AS t FROM words),
ucnt AS (SELECT t, count(*) AS n FROM uni GROUP BY t),
tot AS (SELECT count(*) AS n FROM uni),
big AS (
  SELECT element_at(w, i) AS w1, element_at(w, i + 1) AS w2
  FROM words LATERAL VIEW explode(sequence(1, size(w) - 1)) AS i
  WHERE size(w) >= 2),
bcnt AS (SELECT w1, w2, count(*) AS nxy FROM big GROUP BY w1, w2)
SELECT w1, w2, nxy,
       round((cast(nxy AS double) * tot.n) / (cast(a.n AS double) * b.n), 4)
         AS lift
FROM bcnt JOIN ucnt a ON a.t = w1 JOIN ucnt b ON b.t = w2 CROSS JOIN tot
ORDER BY lift DESC, w1, w2
LIMIT 50
"""
BIGRAM_LIFT_DUCK = """
WITH words AS (
  SELECT regexp_split_to_array(trim(lower(text)), '\\s+') AS w FROM documents),
uni AS (SELECT unnest(w) AS t FROM words),
ucnt AS (SELECT t, count(*) AS n FROM uni GROUP BY t),
tot AS (SELECT count(*) AS n FROM uni),
big AS (
  SELECT w[i] AS w1, w[i + 1] AS w2
  FROM words, unnest(range(1, len(w))) AS u(i)
  WHERE len(w) >= 2),
bcnt AS (SELECT w1, w2, count(*) AS nxy FROM big GROUP BY w1, w2)
SELECT w1, w2, nxy,
       round((cast(nxy AS double) * tot.n) / (cast(a.n AS double) * b.n), 4)
         AS lift
FROM bcnt JOIN ucnt a ON a.t = w1 JOIN ucnt b ON b.t = w2 CROSS JOIN tot
ORDER BY lift DESC, w1, w2
LIMIT 50
"""

# dedup cluster assignment oracle: transitive closure of the
# brute-force jaccard pairs (the same ground truth that certifies the
# MinHash-LSH pairs) via a recursive CTE; cluster = min doc_id
# reachable. The Spark side computes the same fixpoint with the
# distributed label-propagation operator (operators/components.py)
# over the LSH pairs.
CLUSTER_DUCK = f"""
WITH RECURSIVE jp AS ({NGRAM_JACCARD_DUCK}),
e AS (
  SELECT doc_a AS a, doc_b AS b FROM jp
  UNION ALL
  SELECT doc_b AS a, doc_a AS b FROM jp),
reach(a, b) AS (
  SELECT a, b FROM e
  UNION
  SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a),
comp AS (
  SELECT a AS doc_id, least(a, min(b)) AS cluster_id FROM reach GROUP BY a)
SELECT d.doc_id,
       coalesce(c.cluster_id, d.doc_id) AS cluster_id,
       (c.cluster_id IS NOT NULL AND c.cluster_id <> d.doc_id) AS is_dup
FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id
"""

# simhash (32-bit, frequency-weighted) via the shared char-polynomial
# word hash — bit-identical across engines
SIMHASH_BITS = 32
_SIM_BITSUM_SPARK = " + ".join(
    f"(CASE WHEN sum(CASE WHEN (shiftright(h, {b}) & 1) = 1 THEN 1 ELSE -1 END) > 0 "
    f"THEN cast(pow(2, {b}) as bigint) ELSE 0 END)"
    for b in range(SIMHASH_BITS)
)
SIMHASH_SPARK = f"""
WITH words AS (
  SELECT doc_id, explode(split(trim(lower(text)), '\\\\s+')) AS w FROM documents),
hashes AS (
  SELECT doc_id,
         aggregate(split(w, ''), 0L, (a, c) -> (a * 31 + ascii(c)) % 1000000007) AS h
  FROM words)
SELECT doc_id, ({_SIM_BITSUM_SPARK}) AS simhash
FROM hashes GROUP BY doc_id
"""
_SIM_BITSUM_DUCK = " + ".join(
    f"(CASE WHEN sum(CASE WHEN ((h >> {b}) & 1) = 1 THEN 1 ELSE -1 END) > 0 "
    f"THEN (2::BIGINT) ** {b} ELSE 0 END)"
    for b in range(SIMHASH_BITS)
)
SIMHASH_DUCK = f"""
WITH words AS (
  SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS w FROM documents),
hashes AS (
  SELECT doc_id,
         list_reduce(list_prepend(0::BIGINT,
             list_transform(string_split(w, ''), c -> ascii(c)::BIGINT)),
             (a, c) -> (a * 31 + c) % 1000000007) AS h
  FROM words)
SELECT doc_id, ({_SIM_BITSUM_DUCK})::BIGINT AS simhash
FROM hashes GROUP BY doc_id
"""

# language-ID: marker-word counting with a deterministic argmax
_LANG_MARKERS = {
    "en": ["the", "and", "of"],
    "es": ["el", "la", "de"],
    "fr": ["le", "et", "les"],
    "de": ["der", "die", "und"],
    "zh": ["wo", "ni", "ta"],
}


def _marker_count(markers: list[str]) -> str:
    terms = [
        f"CAST((length(p) - length(replace(p, ' {m} ', ''))) / {len(m) + 2} AS BIGINT)"
        for m in markers
    ]
    return " + ".join(terms)


_LANG_COUNTS = ",\n       ".join(
    f"({_marker_count(ms)}) AS c_{lang}" for lang, ms in _LANG_MARKERS.items()
)
_LANG_PRED = (
    "CASE "
    + " ".join(
        f"WHEN c_{lang} >= greatest({', '.join('c_' + o for o in _LANG_MARKERS if o != lang)}) THEN '{lang}'"
        for lang in _LANG_MARKERS
    )
    + " ELSE 'und' END"
)
LANG_ID_SQL = f"""
WITH padded AS (
  SELECT doc_id, ' ' || lower(text) || ' ' AS p FROM documents),
counts AS (
  SELECT doc_id,
       {_LANG_COUNTS}
  FROM padded)
SELECT doc_id, {_LANG_PRED} AS lang_pred
FROM counts
"""

# quality scoring: length/stopword/punctuation features
_STOPWORDS = ["the", "a", "of", "and", "to", "in", "is", "on"]
_STOP_COUNT = _marker_count(_STOPWORDS)
QUALITY_SQL_SPARK = f"""
WITH base AS (
  SELECT doc_id,
         ' ' || lower(text) || ' ' AS p,
         CAST(size(split(trim(text), '\\\\s+')) AS BIGINT) AS n_words,
         length(text) AS n_chars,
         length(regexp_replace(text, '[^.,!?;:]', '')) AS n_punct
  FROM documents)
SELECT doc_id, n_words,
       round(({_STOP_COUNT}) / n_words, 4)             AS stop_ratio,
       round(n_punct / n_chars, 4)                     AS punct_ratio,
       round(least(n_words / 100.0, 1.0) * 0.5
             + (({_STOP_COUNT}) / n_words) * 0.3
             + (1.0 - n_punct / n_chars) * 0.2, 4)     AS quality_score
FROM base
"""
QUALITY_SQL_DUCK = f"""
WITH base AS (
  SELECT doc_id,
         ' ' || lower(text) || ' ' AS p,
         len(regexp_split_to_array(trim(text), '\\s+')) AS n_words,
         length(text) AS n_chars,
         length(regexp_replace(text, '[^.,!?;:]', '', 'g')) AS n_punct
  FROM documents)
SELECT doc_id, n_words,
       round(({_STOP_COUNT}) / n_words, 4)             AS stop_ratio,
       round(n_punct / n_chars, 4)                     AS punct_ratio,
       round(least(n_words / 100.0, 1.0) * 0.5
             + (({_STOP_COUNT}) / n_words) * 0.3
             + (1.0 - n_punct / n_chars) * 0.2, 4)     AS quality_score
FROM base
"""

# token counting: whitespace tokens + a chars/4 BPE-ish estimate
TOKENS_SQL_SPARK = """
SELECT doc_id,
       CAST(size(split(trim(text), '\\\\s+')) AS BIGINT) AS tokens_ws,
       cast(ceil(length(text) / 4.0) as bigint) AS tokens_bpe_est
FROM documents
"""
TOKENS_SQL_DUCK = """
SELECT doc_id,
       len(regexp_split_to_array(trim(text), '\\s+')) AS tokens_ws,
       cast(ceil(length(text) / 4.0) as bigint)        AS tokens_bpe_est
FROM documents
"""

# document fingerprint: rolling polynomial hash over word hashes
FINGERPRINT_SQL_SPARK = """
SELECT doc_id,
       aggregate(split(trim(lower(text)), '\\\\s+'), 0L,
         (acc, w) -> (acc * 37 +
             aggregate(split(w, ''), 0L,
                       (a, c) -> (a * 31 + ascii(c)) % 1000000007)
           ) % 1000000007) AS fp
FROM documents
"""
FINGERPRINT_SQL_DUCK = """
SELECT doc_id,
       list_reduce(list_prepend(0::BIGINT,
         list_transform(regexp_split_to_array(trim(lower(text)), '\\s+'),
           w -> list_reduce(list_prepend(0::BIGINT,
                  list_transform(string_split(w, ''), c -> ascii(c)::BIGINT)),
                  (a, c) -> (a * 31 + c) % 1000000007))),
         (acc, h) -> (acc * 37 + h) % 1000000007) AS fp
FROM documents
"""


# Corpus curation pipeline — the end-to-end keep/drop decision a
# training-data pipeline runs: language filter AND quality floor AND
# not a near-duplicate (transitive cluster membership). The oracle
# composes the already-certified component SQLs as CTEs, so the check
# certifies the COMPOSITION (join alignment, flag logic) on top of the
# per-component proofs. Spark side composes the same components as
# DataFrames (the cluster half is the distributed operator).
CURATE_DUCK_TEMPLATE = """
WITH lang AS ({lang}),
q AS ({quality}),
cl AS ({cluster})
SELECT d.doc_id, lang.lang_pred, q.quality_score, cl.cluster_id,
       (lang.lang_pred = 'en' AND q.quality_score >= 0.55
        AND NOT cl.is_dup) AS keep
FROM documents d
JOIN lang ON lang.doc_id = d.doc_id
JOIN q    ON q.doc_id = d.doc_id
JOIN cl   ON cl.doc_id = d.doc_id
"""


# ---------------------------------------------------------------------------
# Embedding similarity (embeddings table)
# ---------------------------------------------------------------------------

# brute-force cosine: near-dup pairs above threshold (rounded compare).
# The dot product is computed ONCE per pair: explode(array(...)) makes
# cos_sim a Generate output, and Catalyst cannot push a predicate into
# a generated column — a plain subquery alias would be re-inlined by
# PushPredicateThroughNonJoin and the aggregate would run twice (once
# in Filter, once in Project), doubling the per-pair cost.
EMB_COSINE_SPARK = """
WITH e AS (
  SELECT vec_id, embedding,
         sqrt(aggregate(embedding, 0D, (a, x) -> a + cast(x as double) * x)) AS nrm
  FROM embeddings)
SELECT vec_a, vec_b, cos_sim
FROM (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         explode(array(round(
             aggregate(zip_with(a.embedding, b.embedding,
                       (x, y) -> cast(x as double) * y), 0D, (acc, v) -> acc + v)
             / (a.nrm * b.nrm), 4))) AS cos_sim
  FROM e a JOIN e b ON a.vec_id < b.vec_id)
WHERE cos_sim >= 0.45
"""
EMB_COSINE_DUCK = """
WITH e AS (
  SELECT vec_id, cast(embedding as double[]) AS v,
         sqrt(list_reduce(list_prepend(0.0::DOUBLE,
              list_transform(cast(embedding as double[]), x -> x * x)),
              (a, x) -> a + x)) AS nrm
  FROM embeddings)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 4) AS cos_sim
FROM e a JOIN e b ON a.vec_id < b.vec_id
WHERE round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 4) >= 0.45
"""

# brute-force ANN top-k for a fixed query vector (vec_id = 0)
ANN_TOPK_SPARK = """
WITH e AS (
  SELECT vec_id, embedding,
         sqrt(aggregate(embedding, 0D, (a, x) -> a + cast(x as double) * x)) AS nrm
  FROM embeddings),
q AS (SELECT embedding AS qv, nrm AS qn FROM e WHERE vec_id = 0)
SELECT vec_id,
       round(aggregate(zip_with(embedding, qv, (x, y) -> cast(x as double) * y),
                       0D, (acc, v) -> acc + v) / (nrm * qn), 4) AS score
FROM e CROSS JOIN q
WHERE vec_id <> 0
ORDER BY score DESC, vec_id
LIMIT 10
"""
ANN_TOPK_DUCK = """
WITH e AS (
  SELECT vec_id, cast(embedding as double[]) AS v,
         sqrt(list_reduce(list_prepend(0.0::DOUBLE,
              list_transform(cast(embedding as double[]), x -> x * x)),
              (a, x) -> a + x)) AS nrm
  FROM embeddings),
q AS (SELECT v AS qv, nrm AS qn FROM e WHERE vec_id = 0)
SELECT vec_id,
       round(list_dot_product(v, qv) / (nrm * qn), 4) AS score
FROM e CROSS JOIN q
WHERE vec_id <> 0
ORDER BY score DESC, vec_id
LIMIT 10
"""


# batch ANN oracle: brute-force cross join for the fixed query batch
# (vec_id < 5) — certifies the GEMM scan + per-batch top-k prune +
# window ranking of operators.similarity.ann_batch_topk
ANN_BATCH_DUCK = """
WITH e AS (
  SELECT vec_id, cast(embedding as double[]) AS v,
         sqrt(list_reduce(list_prepend(0.0::DOUBLE,
              list_transform(cast(embedding as double[]), x -> x * x)),
              (a, x) -> a + x)) AS nrm
  FROM embeddings),
q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn FROM e WHERE vec_id < 5),
s AS (
  SELECT q.query_id, e.vec_id,
         round(list_dot_product(e.v, q.qv) / (e.nrm * q.qn), 4) AS score,
         row_number() OVER (
           PARTITION BY q.query_id
           ORDER BY list_dot_product(e.v, q.qv) / (e.nrm * q.qn) DESC,
                    e.vec_id) AS rk
  FROM e CROSS JOIN q
  WHERE e.vec_id <> q.query_id)
SELECT query_id, vec_id, score, rk FROM s WHERE rk <= 10
"""


# benchmark decontamination: flag training docs sharing any word-level
# 8-gram with the held-out set (source='src0' stands in for the eval
# benchmark). The eval gram set is tiny next to the corpus → Spark
# broadcasts it into the join (no shuffle of the training gram stream);
# at 100 TB the grams would be FNV-hashed to int64 first (the
# operators/dedup.py shingle pattern) to make the exchanged keys
# fixed-width, which changes no count below. Output: exact shared-gram
# counts, non-vacuous via the planted cross-source near-dups.
DECON_SPARK = """
WITH t AS (
  SELECT doc_id, source, w FROM (
    SELECT doc_id, source, split(trim(lower(text)), '\\\\s+') AS w
    FROM documents)
  WHERE size(w) >= 8),
g AS (
  SELECT doc_id, source, concat_ws(' ', slice(w, i, 8)) AS gram
  FROM t LATERAL VIEW explode(sequence(1, greatest(size(w) - 7, 1))) AS i),
e AS (SELECT DISTINCT gram FROM g WHERE source = 'src0')
SELECT g.doc_id AS doc_id, count(DISTINCT g.gram) AS n_shared_8grams
FROM g JOIN e ON g.gram = e.gram
WHERE g.source <> 'src0'
GROUP BY g.doc_id
"""
DECON_DUCK = """
WITH t AS (
  SELECT doc_id, source, regexp_split_to_array(trim(lower(text)), '\\s+') AS w
  FROM documents),
g AS (
  SELECT doc_id, source, array_to_string(w[i:i+7], ' ') AS gram
  FROM t, LATERAL unnest(generate_series(1, len(w) - 7)) AS u(i)
  WHERE len(w) >= 8),
e AS (SELECT DISTINCT gram FROM g WHERE source = 'src0')
SELECT g.doc_id AS doc_id, count(DISTINCT g.gram) AS n_shared_8grams
FROM g JOIN e ON g.gram = e.gram
WHERE g.source <> 'src0'
GROUP BY g.doc_id
"""

# deterministic stratified sample: 10% per language, rank by md5 of the
# doc id (identical hex in both engines → identical sample on any
# engine, append-stable within a stratum). ceil(n/10) via integer
# (n+9) DIV 10 — no floats. One exchange on lang; a production run
# with few giant strata splits each into ordered buckets and adds
# driver-known bucket offsets, as assign_global_seq does for the frontier.
STRAT_SAMPLE_SPARK = """
WITH r AS (
  SELECT doc_id, lang,
         row_number() OVER (PARTITION BY lang
                            ORDER BY md5(cast(doc_id AS string)), doc_id) AS rn,
         count(*) OVER (PARTITION BY lang) AS n
  FROM documents)
SELECT doc_id, lang, CAST(rn AS BIGINT) AS strat_rank
FROM r
WHERE rn <= (n + 9) DIV 10
"""
STRAT_SAMPLE_DUCK = """
WITH r AS (
  SELECT doc_id, lang,
         row_number() OVER (PARTITION BY lang
                            ORDER BY md5(cast(doc_id AS VARCHAR)), doc_id) AS rn,
         count(*) OVER (PARTITION BY lang) AS n
  FROM documents)
SELECT doc_id, lang, rn AS strat_rank
FROM r
WHERE rn <= (n + 9) // 10
"""

# Gopher-style repetition filter: duplicate-2gram fraction per doc,
# keep iff dup fraction <= 1/8 — compared as integers
# (8*(n-distinct) <= n), so the keep flag is bit-identical across
# engines. Pure groupBy aggregation; map-side combine does the heavy
# lifting at scale.
REPETITION_SPARK = """
WITH t AS (
  SELECT doc_id, w FROM (
    SELECT doc_id, split(trim(lower(text)), '\\\\s+') AS w FROM documents)
  WHERE size(w) >= 2),
g AS (
  SELECT doc_id, concat(element_at(w, i), ' ', element_at(w, i + 1)) AS gram
  FROM t LATERAL VIEW explode(sequence(1, greatest(size(w) - 1, 1))) AS i)
SELECT doc_id,
       count(*) AS n_2grams,
       count(DISTINCT gram) AS n_distinct_2grams,
       (8 * (count(*) - count(DISTINCT gram)) <= count(*)) AS keep
FROM g GROUP BY doc_id
"""
REPETITION_DUCK = """
WITH t AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS w
  FROM documents),
g AS (
  SELECT doc_id, w[i] || ' ' || w[i + 1] AS gram
  FROM t, LATERAL unnest(generate_series(1, len(w) - 1)) AS u(i)
  WHERE len(w) >= 2)
SELECT doc_id,
       count(*) AS n_2grams,
       count(DISTINCT gram) AS n_distinct_2grams,
       (8 * (count(*) - count(DISTINCT gram)) <= count(*)) AS keep
FROM g GROUP BY doc_id
"""


# ordered three-stage funnel (view → click → purchase, strictly
# increasing timestamps): the sequential-pattern analytic every
# event-pipeline needs, with a 24h conversion window per stage (the
# window is what makes stages actually distinguish users). Each stage
# is a per-user min-timestamp aggregate joined back — small per-user aggregates that Spark
# broadcasts; the events scan stays pruned to (user_id, ts,
# event_type). Timestamps surface as epoch seconds (BIGINT) per the
# cross-engine rules.
FUNNEL_SPARK = """
WITH s1 AS (
  SELECT user_id, min(ts) AS t1 FROM events
  WHERE event_type = 'view' GROUP BY user_id),
s2 AS (
  SELECT e.user_id, min(e.ts) AS t2 FROM events e
  JOIN s1 ON e.user_id = s1.user_id
  WHERE e.event_type = 'click' AND e.ts > s1.t1
    AND e.ts <= s1.t1 + INTERVAL 24 HOUR GROUP BY e.user_id),
s3 AS (
  SELECT e.user_id, min(e.ts) AS t3 FROM events e
  JOIN s2 ON e.user_id = s2.user_id
  WHERE e.event_type = 'purchase' AND e.ts > s2.t2
    AND e.ts <= s2.t2 + INTERVAL 24 HOUR GROUP BY e.user_id),
u AS (SELECT DISTINCT user_id FROM events)
SELECT u.user_id,
       CAST(CASE WHEN s3.t3 IS NOT NULL THEN 3
                 WHEN s2.t2 IS NOT NULL THEN 2
                 WHEN s1.t1 IS NOT NULL THEN 1 ELSE 0 END AS BIGINT)
         AS funnel_stage,
       unix_timestamp(s1.t1) AS t_view,
       unix_timestamp(s2.t2) AS t_click,
       unix_timestamp(s3.t3) AS t_purchase
FROM u
LEFT JOIN s1 ON u.user_id = s1.user_id
LEFT JOIN s2 ON u.user_id = s2.user_id
LEFT JOIN s3 ON u.user_id = s3.user_id
"""
FUNNEL_DUCK = """
WITH s1 AS (
  SELECT user_id, min(ts) AS t1 FROM events
  WHERE event_type = 'view' GROUP BY user_id),
s2 AS (
  SELECT e.user_id, min(e.ts) AS t2 FROM events e
  JOIN s1 ON e.user_id = s1.user_id
  WHERE e.event_type = 'click' AND e.ts > s1.t1
    AND e.ts <= s1.t1 + INTERVAL 24 HOUR GROUP BY e.user_id),
s3 AS (
  SELECT e.user_id, min(e.ts) AS t3 FROM events e
  JOIN s2 ON e.user_id = s2.user_id
  WHERE e.event_type = 'purchase' AND e.ts > s2.t2
    AND e.ts <= s2.t2 + INTERVAL 24 HOUR GROUP BY e.user_id),
u AS (SELECT DISTINCT user_id FROM events)
SELECT u.user_id,
       CAST(CASE WHEN s3.t3 IS NOT NULL THEN 3
                 WHEN s2.t2 IS NOT NULL THEN 2
                 WHEN s1.t1 IS NOT NULL THEN 1 ELSE 0 END AS BIGINT)
         AS funnel_stage,
       -- floor, not cast: epoch() keeps sub-second fractions and
       -- DuckDB's double->int cast ROUNDS where Spark's
       -- unix_timestamp FLOORS
       CAST(floor(epoch(s1.t1)) AS BIGINT) AS t_view,
       CAST(floor(epoch(s2.t2)) AS BIGINT) AS t_click,
       CAST(floor(epoch(s3.t3)) AS BIGINT) AS t_purchase
FROM u
LEFT JOIN s1 ON u.user_id = s1.user_id
LEFT JOIN s2 ON u.user_id = s2.user_id
LEFT JOIN s3 ON u.user_id = s3.user_id
"""


# weekly retention cohorts: users grouped by the week of their first
# event; n_users active k weeks later. Week arithmetic stays in exact
# integer epoch space (cohort and activity weeks are date_trunc'd, the
# difference divided by 604800 with integer DIV) so both engines agree
# bit-for-bit. Two aggregations, both map-side combinable.
COHORT_SPARK = """
WITH f AS (
  SELECT user_id, unix_timestamp(date_trunc('week', min(ts))) AS cw
  FROM events GROUP BY user_id),
a AS (
  SELECT DISTINCT e.user_id, f.cw,
         CAST((unix_timestamp(date_trunc('week', e.ts)) - f.cw)
              DIV 604800 AS BIGINT) AS week_k
  FROM events e JOIN f ON e.user_id = f.user_id)
SELECT cw AS cohort_week, week_k, count(*) AS n_users
FROM a GROUP BY cw, week_k
"""
COHORT_DUCK = """
WITH f AS (
  SELECT user_id, epoch(date_trunc('week', min(ts)))::BIGINT AS cw
  FROM events GROUP BY user_id),
a AS (
  SELECT DISTINCT e.user_id, f.cw,
         (epoch(date_trunc('week', e.ts))::BIGINT - f.cw) // 604800
           AS week_k
  FROM events e JOIN f ON e.user_id = f.user_id)
SELECT cw AS cohort_week, week_k, count(*) AS n_users
FROM a GROUP BY cw, week_k
"""


# per-user 7-day rolling sum — the RANGE-frame window surface (a
# time-bounded frame, not a row-count frame: each row's frame is that
# user's events in [ts-7d, ts], however many rows that is). Order key
# is epoch seconds (session TZ pinned UTC, so unix_timestamp ≡ duck
# epoch); values enter the sum as floor(value*1000) BIGINT milliunits
# so the aggregate is an order-independent integer — a double sum's
# association order differs between Spark's running-frame evaluator
# and DuckDB's segment tree and would break the value hash. Ties in
# ts share one frame by RANGE semantics, so per-row output is
# deterministic even with duplicate timestamps. At 100 TB this is one
# exchange on user_id; the frame evaluator is streaming per key.
ROLL7D_SPARK = """
WITH e AS (
  SELECT event_id, user_id, unix_timestamp(ts) AS tsec,
         CAST(floor(value * 1000) AS BIGINT) AS vmil
  FROM events)
SELECT event_id, user_id,
       CAST(sum(vmil) OVER (
         PARTITION BY user_id ORDER BY tsec
         RANGE BETWEEN 604800 PRECEDING AND CURRENT ROW) AS BIGINT)
         AS roll_7d_milli
FROM e
"""
ROLL7D_DUCK = """
WITH e AS (
  SELECT event_id, user_id, epoch(ts)::BIGINT AS tsec,
         floor(value * 1000)::BIGINT AS vmil
  FROM events)
SELECT event_id, user_id,
       sum(vmil) OVER (
         PARTITION BY user_id ORDER BY tsec
         RANGE BETWEEN 604800 PRECEDING AND CURRENT ROW)::BIGINT
         AS roll_7d_milli
FROM e
"""


# top-5 bigrams per language by frequency — the corpus-exploration
# companion to text_bigram_lift: group-wise top-k over an exploded
# n-gram stream (count DESC, then lexicographic tie-break so the
# cut is total-ordered). One shuffle to count, one window pass; at
# 100 TB the count is map-side combinable and the window partitions
# are per (lang), each a few hundred thousand distinct grams.
NGRAM_TOPK_SPARK = """
WITH words AS (
  SELECT lang, split(trim(lower(text)), '\\\\s+') AS w FROM documents),
big AS (
  SELECT lang, concat_ws(' ', element_at(w, i), element_at(w, i + 1)) AS gram
  FROM words LATERAL VIEW explode(sequence(1, size(w) - 1)) AS i
  WHERE size(w) >= 2),
cnt AS (SELECT lang, gram, count(*) AS n FROM big GROUP BY lang, gram),
rk AS (
  SELECT lang, gram, n,
         row_number() OVER (PARTITION BY lang ORDER BY n DESC, gram) AS rk
  FROM cnt)
SELECT lang, gram, n, CAST(rk AS BIGINT) AS rk FROM rk WHERE rk <= 5
"""
NGRAM_TOPK_DUCK = """
WITH words AS (
  SELECT lang, regexp_split_to_array(trim(lower(text)), '\\s+') AS w
  FROM documents),
big AS (
  SELECT lang, w[i] || ' ' || w[i + 1] AS gram
  FROM words, unnest(range(1, len(w))) AS u(i)
  WHERE len(w) >= 2),
cnt AS (SELECT lang, gram, count(*) AS n FROM big GROUP BY lang, gram),
rk AS (
  SELECT lang, gram, n,
         row_number() OVER (PARTITION BY lang ORDER BY n DESC, gram) AS rk
  FROM cnt)
SELECT lang, gram, n, CAST(rk AS BIGINT) AS rk FROM rk WHERE rk <= 5
"""


# Training-mixture construction (LLaMA/Pile-style): per-source epoch
# repeat factors materialized as (doc, epoch) training instances. The
# explode is generator-side (no shuffle); at 100 TB the repeat factor
# multiplies rows inside the scan stage and the downstream shuffle
# partitions by doc_id as usual.
MIXTURE_SPARK = """
WITH w AS (
  SELECT doc_id, source,
         CASE WHEN source IN ('src0', 'src1') THEN 3
              WHEN source IN ('src2', 'src3') THEN 2
              ELSE 1 END AS n_epochs
  FROM documents)
SELECT doc_id, source, CAST(e AS BIGINT) AS epoch
FROM w LATERAL VIEW explode(sequence(1, n_epochs)) AS e
"""
MIXTURE_DUCK = """
WITH w AS (
  SELECT doc_id, source,
         CASE WHEN source IN ('src0', 'src1') THEN 3
              WHEN source IN ('src2', 'src3') THEN 2
              ELSE 1 END AS n_epochs
  FROM documents)
SELECT doc_id, source, CAST(u.e AS BIGINT) AS epoch
FROM w, unnest(range(1, n_epochs + 1)) AS u(e)
"""

# CCNet-style LM quality proxy: per-doc mean log corpus-frequency of
# its bigrams (high = built from common corpus bigrams ≈ low
# perplexity). ONE pass over the exploded bigram stream: the per-gram
# corpus count rides a count(*) window (partition by gram) instead of
# a separate GROUP BY + join back — Spark recomputes a referenced-
# twice CTE, so the join shape paid the token explode twice (round-5
# verdict item; the window halves the scan work). Output-identical:
# the window count per row equals the joined cnt.n, and the final
# per-doc aggregate sees the same multiset of rows. The DuckDB oracle
# text is frozen (driver fingerprint) and keeps the join shape.
LM_SCORE_SPARK = """
WITH t AS (
  SELECT doc_id, w FROM (
    SELECT doc_id, split(trim(lower(text)), '\\\\s+') AS w FROM documents)
  WHERE size(w) >= 2),
big AS (
  SELECT doc_id, concat(element_at(w, i), ' ', element_at(w, i + 1)) AS gram
  FROM t LATERAL VIEW explode(sequence(1, greatest(size(w) - 1, 1))) AS i),
wcnt AS (
  SELECT doc_id, count(*) OVER (PARTITION BY gram) AS n
  FROM big)
SELECT doc_id,
       round(avg(ln(n)), 4) AS lm_score,
       count(*) AS n_bigrams
FROM wcnt
GROUP BY doc_id
"""
LM_SCORE_DUCK = """
WITH t AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS w
  FROM documents),
big AS (
  SELECT doc_id, w[i] || ' ' || w[i + 1] AS gram
  FROM t, unnest(range(1, len(w))) AS u(i)
  WHERE len(w) >= 2),
cnt AS (SELECT gram, count(*) AS n FROM big GROUP BY gram)
SELECT b.doc_id,
       round(avg(ln(c.n)), 4) AS lm_score,
       count(*) AS n_bigrams
FROM big b JOIN cnt c ON b.gram = c.gram
GROUP BY b.doc_id
"""

# Batch-shaping: per-source length-bucket histogram (the curriculum /
# packing-efficiency view). floor() is double-typed in DuckDB and
# bigint in Spark — cast both sides.
LEN_BUCKETS_SPARK = """
SELECT source,
       CAST(least(floor(n_chars / 64.0), 8) AS BIGINT) AS bucket,
       count(*) AS n_docs,
       round(avg(n_chars), 2) AS avg_chars
FROM documents
GROUP BY source, CAST(least(floor(n_chars / 64.0), 8) AS BIGINT)
"""

# ---------------------------------------------------------------------------
# registry: name → (spark_fn, duckdb_oracle_sql or None)
# ---------------------------------------------------------------------------

REGISTRY: dict[str, tuple] = {
    "q1_pricing_summary": (_sql(Q1_SPARK), Q1_SPARK),
    "q3_shipping_priority": (_sql(Q3_SQL), Q3_SQL),
    "q5_region_revenue": (_sql(Q5_SQL), Q5_SQL),
    "q4_order_priority": (_sql(Q4_SQL), Q4_SQL),
    "q6_forecast_revenue": (_sql(Q6_SQL), Q6_SQL),
    "q10_returned_items": (_sql(Q10_SQL), Q10_SQL),
    "q14_promo_effect": (_sql(Q14_SQL), Q14_SQL),
    "q16_supplier_variety": (_sql(Q16_SQL), Q16_SQL),
    "q18_large_orders": (_sql(Q18_SQL), Q18_SQL),
    "q22_idle_customers": (_sql(Q22_SQL), Q22_SQL),
    "q7_nation_volume": (_sql(Q7_SQL), Q7_SQL),
    "q8_market_share": (_sql(Q8_SQL), Q8_SQL),
    "q13_order_count_dist": (_sql(Q13_SQL), Q13_SQL),
    "q15_top_supplier": (_sql(Q15_SQL), Q15_SQL),
    "q17_small_qty_revenue": (_sql(Q17_SQL), Q17_SQL),
    "q19_or_predicates": (_sql(Q19_SQL), Q19_SQL),
    "pivot_order_status": (_sql(PIVOT_SPARK), PIVOT_DUCK),
    "anti_join_orders": (_sql(ANTI_SQL_SPARK), ANTI_SQL_DUCK),
    "semi_join_customers": (_sql(SEMI_SQL_SPARK), SEMI_SQL_DUCK),
    "dedup_first_wins": (_sql(DEDUP_FIRST_SQL), DEDUP_FIRST_SQL),
    "topk_per_group": (_sql(TOPK_GROUP_SQL), TOPK_GROUP_SQL),
    "global_topk": (_sql(GLOBAL_TOPK_SQL), GLOBAL_TOPK_SQL),
    "cube_lineitem": (_sql(CUBE_SQL), CUBE_SQL),
    "rollup_orders": (_sql(ROLLUP_SQL), ROLLUP_SQL),
    "events_gap_histogram": (_sql(EVENT_GAPS_SQL), EVENT_GAPS_DUCK),
    "events_json_props": (_sql(JSON_PROPS_SQL_SPARK), JSON_PROPS_SQL_DUCK),
    "setops_halfyear_buyers": (_sql(SET_OPS_SQL), SET_OPS_SQL),
    "events_hourly": (_sql(EVENTS_HOURLY_SQL_SPARK), EVENTS_HOURLY_SQL_DUCK),
    "events_sessionize": (_sql(SESSION_SQL_SPARK), SESSION_SQL_DUCK),
    "running_total": (_sql(RUNNING_SQL), RUNNING_SQL),
    "dedup_exact": (_sql(DEDUP_EXACT_SQL), DEDUP_EXACT_SQL),
    "dedup_ngram_jaccard": (_sql(NGRAM_JACCARD_SPARK), NGRAM_JACCARD_DUCK),
    "dedup_simhash": (_sql(SIMHASH_SPARK), SIMHASH_DUCK),
    "text_lang_id": (_sql(LANG_ID_SQL), LANG_ID_SQL),
    "text_quality": (_sql(QUALITY_SQL_SPARK), QUALITY_SQL_DUCK),
    "text_token_count": (_sql(TOKENS_SQL_SPARK), TOKENS_SQL_DUCK),
    "text_fingerprint": (_sql(FINGERPRINT_SQL_SPARK), FINGERPRINT_SQL_DUCK),
    "text_tfidf_topk": (_sql(TFIDF_SPARK), TFIDF_DUCK),
    "text_bigram_lift": (_sql(BIGRAM_LIFT_SPARK), BIGRAM_LIFT_DUCK),
    "events_value_quantiles": (_sql(QUANTILES_SPARK), QUANTILES_DUCK),
    "events_funnel": (_sql(FUNNEL_SPARK), FUNNEL_DUCK),
    "events_retention_cohort": (_sql(COHORT_SPARK), COHORT_DUCK),
    "events_rolling_7d": (_sql(ROLL7D_SPARK), ROLL7D_DUCK),
    "text_ngram_topk": (_sql(NGRAM_TOPK_SPARK), NGRAM_TOPK_DUCK),
    "events_distinct_users_salted": (
        _sql(SALTED_DISTINCT_SPARK),
        SALTED_DISTINCT_DUCK,
    ),
    "dataset_split_assign": (_sql(SPLIT_ASSIGN_SPARK), SPLIT_ASSIGN_DUCK),
    "dataset_pack_sequences": (_sql(PACK_SQL), PACK_DUCK),
    "dataset_decontaminate": (_sql(DECON_SPARK), DECON_DUCK),
    "dataset_sample_stratified": (_sql(STRAT_SAMPLE_SPARK), STRAT_SAMPLE_DUCK),
    "text_repetition_filter": (_sql(REPETITION_SPARK), REPETITION_DUCK),
    "dataset_mixture_epochs": (_sql(MIXTURE_SPARK), MIXTURE_DUCK),
    "text_lm_score_proxy": (_sql(LM_SCORE_SPARK), LM_SCORE_DUCK),
    "dataset_length_buckets": (_sql(LEN_BUCKETS_SPARK), LEN_BUCKETS_SPARK),
    "dedup_embedding_cosine": (_sql(EMB_COSINE_SPARK), EMB_COSINE_DUCK),
    "ann_topk_bruteforce": (_sql(ANN_TOPK_SPARK), ANN_TOPK_DUCK),
}
