"""The query workload: closed loop, one query in flight at a time.

After set-up, one untimed pass collects every query's result and
compares it with the registry's DuckDB oracle on the same parquet; it
also pays each query's first-execution costs. Then timed passes run
each query to completion through Spark's ``noop`` sink (every row and
column materialized, nothing collected) until the run's time is up.
"""

from __future__ import annotations

import math
import statistics
import sys
import time
from collections import defaultdict

from . import procstat, session, spark_trace
from .spark_trace import CHECK, SWEEP

# CPU per pass keeps falling over the first few passes (JIT warm-up), so
# the CPU cost is the median over the second half of at least 6 passes
MIN_PASSES = 6

# The subset of the 35-query headline sweep this workload runs: the full
# sweep's first pass alone takes longer than a benchmark run may. One
# query per layer: plans.analytics (a TPC-H join), operators.asof,
# operators.dedup (MinHash-LSH) and operators.similarity (blocked cosine).
QUERIES = (
    "q3_shipping_priority",
    "events_asof_order",
    "dedup_minhash_lsh",
    "dedup_embedding_blocked",
)
TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


def _norm_cell(v):
    if isinstance(v, float):
        return "nan" if math.isnan(v) else round(v, 6)
    if hasattr(v, "item"):  # numpy scalar
        return _norm_cell(v.item())
    if isinstance(v, (list, tuple)):
        return tuple(_norm_cell(x) for x in v)
    return v


def row_multiset(cols, rows) -> list:
    """Order-insensitive, column-order-insensitive form of a result."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted((tuple(_norm_cell(r[i]) for i in order) for r in rows), key=repr)


def _cents(v: float) -> bool:
    return abs(v * 100 - round(v * 100)) < 1e-6


def _close(a, b) -> bool:
    """Cells are equal, except that two values rounded to cents may be
    one cent apart: Spark's ROUND(double, 2) rounds the double's shortest
    decimal string half-up, DuckDB rounds its binary value, so an exact
    half-cent sum (q3 on seed 307: 166096.555) lands on either side."""
    if isinstance(a, float) and isinstance(b, float) and _cents(a) and _cents(b):
        return abs(a - b) <= 0.01 + 1e-9
    return a == b


def same_rows(got: list, want: list) -> bool:
    """Multiset equality of normalized rows under ``_close``; rows are
    paired by their non-float cells."""
    if got == want:
        return True
    if len(got) != len(want):
        return False
    by_key = defaultdict(list)
    for w in want:
        by_key[tuple(v for v in w if not isinstance(v, float))].append(w)
    for g in got:
        cands = by_key[tuple(v for v in g if not isinstance(v, float))]
        hit = next((i for i, w in enumerate(cands)
                    if all(_close(x, y) for x, y in zip(g, w))), None)
        if hit is None:
            return False
        del cands[hit]
    return True


def duckdb_rows(sql: str, tables_dir: str):
    import duckdb

    con = duckdb.connect()
    try:
        for t in TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{tables_dir}/{t}.parquet'")
        rel = con.sql(sql)
        return rel.columns, rel.fetchall()
    finally:
        con.close()


class QueryBench:
    def __init__(self, tables_dir: str, run_dir: str):
        self.dir = tables_dir
        self.run_dir = run_dir
        self.spark = None
        self.registry: dict = {}

    def setup(self) -> dict:
        """get_spark + full_registry() + registering the table views,
        in a fresh JVM; returns the seconds each step took."""
        from wormpy_spark.plans.analytics import load_views
        from wormpy_spark.plans.registry import full_registry

        t0 = time.time()
        self.spark = session.start(self.run_dir, "perfbench_query")
        t1 = time.time()
        self.registry = full_registry()
        load_views(self.spark, self.dir)
        return {"get_spark_s": t1 - t0, "registry_s": time.time() - t1}

    def check_pass(self) -> list[str]:
        """Untimed: every query's rows against its DuckDB oracle."""
        self.spark.sparkContext.setJobDescription(CHECK)
        errors = []
        for name in QUERIES:
            fn, sql = self.registry[name]
            try:
                sdf = fn(self.spark, self.dir)
                got = row_multiset(sdf.columns, [tuple(r) for r in sdf.collect()])
                want = row_multiset(*duckdb_rows(sql, self.dir))
            except Exception as exc:  # a failing query is a failed operation
                errors.append(f"{name}: {type(exc).__name__}: {exc}"[:300])
                continue
            if not got:
                errors.append(f"{name}: no rows")
            elif not same_rows(got, want):
                errors.append(f"{name}: {len(got)} rows differ from the oracle's {len(want)}")
        return errors

    def timed_pass(self) -> tuple[dict, list[str]]:
        sc = self.spark.sparkContext
        times, errors = {}, []
        for name in QUERIES:
            sc.setJobDescription(SWEEP + name)
            t0 = time.time()
            try:
                self.registry[name][0](self.spark, self.dir).write.format(
                    "noop").mode("overwrite").save()
            except Exception as exc:
                errors.append(f"{name}: {type(exc).__name__}: {exc}"[:300])
            times[name] = time.time() - t0
        return times, errors


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def run(tables_dir, run_dir, seconds, trace) -> dict:
    bench = QueryBench(tables_dir, run_dir)
    setups, parts = [], []
    for rep in range(session.SETUP_REPS):
        if rep:
            session.shutdown()
        t0 = time.time()
        parts.append(bench.setup())
        setups.append(time.time() - t0)

    errors = bench.check_pass()
    attempted, failed = len(QUERIES), len(errors)
    store = spark_trace.StatusStore(bench.spark)
    passes, traced, pass_cpu = [], [], []
    steal0 = procstat.host_cpu_ticks()
    loop0 = time.time()
    while len(passes) < MIN_PASSES or time.time() - loop0 < seconds:
        cpu0, t0 = procstat.tree_cpu_s(), time.time()
        times, errs = bench.timed_pass()
        t1 = time.time()
        pass_cpu.append(procstat.tree_cpu_s() - cpu0)
        attempted += len(QUERIES)
        failed += len(errs)
        errors += errs
        if trace:
            traced.append(_layers(store, times, t0, t1))
        passes.append(times)
    steal = procstat.steal_frac(steal0, procstat.host_cpu_ticks())
    peak_rss = procstat.tree_peak_rss_mb()
    # a pass's wall, with each query's median over the passes run
    sweep_s = sum(_median([p[q] for p in passes]) for q in QUERIES)
    out = {
        "passes": passes,
        "pass_cpu_s": pass_cpu,
        "errors": errors,
        "attempted": attempted,
        "failed": failed,
        "setups_s": setups,
        "setup_parts_s": parts,
        "host.steal_frac": steal,
        "end_to_end": {
            "work_per_s": len(QUERIES) / sweep_s,
            "cpu_ms_per_unit": 1e3 * _median(pass_cpu[len(pass_cpu) // 2:])
            / len(QUERIES),
            "setup_s": _median(setups),
            "peak_rss_mb": peak_rss,
        },
    }
    if trace:
        keys = traced[0].keys()
        layers = {k: _median([t[k] for t in traced]) for k in keys}
        layers["host.steal_frac"] = steal
        layers["mem.peak_rss_mb"] = peak_rss
        layers["trace.work_per_s"] = len(QUERIES) / sweep_s
        out["layers"] = layers
    print(f"[perfbench] sweep passes: {[round(sum(p.values()), 2) for p in passes]} "
          f"setups: {[round(s, 2) for s in setups]} "
          f"{[{k: round(v, 2) for k, v in p.items()} for p in parts]}", file=sys.stderr)
    return out


def _layers(store, times: dict, t0: float, t1: float) -> dict:
    store.flush()
    jobs = store.jobs(t0, t1)
    stats = spark_trace.phase_summary(store, jobs, ("sweep",))["sweep"]
    sent, returned = store.python_bytes(t0, t1, ("sweep",))
    layers = {f"query.{q}_s": times[q] for q in QUERIES}
    layers.update({
        "sweep.task_cpu_s": stats["task_cpu_s"],
        "sweep.gc_s": stats["gc_s"],
        "sweep.shuffle_bytes": stats["shuffle_bytes"],
        "sweep.py_bytes": sent + returned,
        "sweep.driver_gap_s": (t1 - t0) - spark_trace.union_s(
            spark_trace.clip([(j.start, j.end) for j in jobs], t0, t1)),
    })
    return layers
