"""The crawl workload: closed loop, one crawl in flight at a time.

One operation is ``run_crawl`` on the prepared web table followed by
the verify tail (decode and check every fetched image, count near-dup
pairs). Its wall runs from the ``run_crawl`` call to the end of the
tail. Outside that wall each crawl's order and seen set are checked
against the reference oracle's digests, and the tail must report no
verification failure.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import tempfile
import time

from . import inputs, procstat, session, spark_trace
from .kernels import kernel_metrics
from .spark_trace import CHECK, PHASES, PRE_ROUNDS, PREPARE, VERIFY

# CrawlConfig.fast_round_max, lowered from its default of 4096 rows so
# that a corpus small enough to generate, check and prepare within a run
# still takes the Spark path after round 0; the limit picks the path and
# changes no output
FAST_ROUND_MAX = 1024
WARM_SAMPLE = 32  # the warm-up runs the fetch kernel on ~1/32 of the pages
_U64 = (1 << 64) - 1


def neardup_pairs(phashes: list[int], max_hamming: int = 6) -> int:
    """Unordered pairs of 64-bit perceptual hashes within
    ``max_hamming`` bits (Spark returns them as signed longs)."""
    v = [p & _U64 for p in phashes]
    return sum(
        1
        for i in range(len(v))
        for j in range(i + 1, len(v))
        if (v[i] ^ v[j]).bit_count() <= max_hamming
    )


class CrawlBench:
    def __init__(self, shape: inputs.CrawlShape, corpus_dir: str, run_dir: str):
        self.shape = shape
        self.corpus = corpus_dir
        self.run_dir = run_dir
        self.spark = None
        self.tables: dict = {}
        self.last_setup_start = 0.0

    def _read(self, name: str):
        return self.spark.read.parquet(os.path.join(self.corpus, f"{name}.parquet"))

    def setup(self) -> dict:
        """get_spark + prepare_fetch_table + a warm-up of the fetch
        kernel on every partition, in a fresh JVM; returns the seconds
        each step took."""
        from pyspark.sql import functions as F

        from wormpy_spark.operators.fetch import PAGES_SCHEMA_EXPAND, make_fetch_extract
        from wormpy_spark.plans.crawl import prepare_fetch_table

        t0 = time.time()
        self.spark = session.start(self.run_dir, "perfbench_crawl")
        t1 = time.time()
        self.spark.sparkContext.setJobDescription(PREPARE)
        web = prepare_fetch_table(self.spark, self._read("web"))
        t2 = time.time()
        (
            web.filter(F.abs(F.hash("url_norm")) % WARM_SAMPLE == 0)
            .withColumn("seq", F.monotonically_increasing_id())
            .withColumn("round", F.lit(0))
            .withColumn("host_shard", F.lit(0))
            .mapInArrow(make_fetch_extract(True, scope_base=self.shape.base_url),
                        PAGES_SCHEMA_EXPAND)
            .write.format("noop").mode("overwrite").save()
        )
        t3 = time.time()
        self.tables = {
            "web": web,
            "images": self._read("images"),
            "truth": self._read("images_truth"),
            "sitemaps": self._read("sitemaps"),
            "robots": self._read("robots"),
        }
        return {"get_spark_s": t1 - t0, "prepare_s": t2 - t1, "warm_up_s": t3 - t2}

    def crawl(self) -> dict:
        """One operation; returns its figures and the crawl result."""
        from pyspark.sql import functions as F

        from wormpy_spark.operators.multimodal import decode_verify
        from wormpy_spark.plans.crawl import CrawlConfig, run_crawl

        sc = self.spark.sparkContext
        t = self.tables
        ckpt = tempfile.mkdtemp(prefix="ckpt_", dir=self.run_dir)
        cfg = CrawlConfig(
            base_url=self.shape.base_url, budget=self.shape.budget,
            politeness_seed=self.shape.politeness_seed, checkpoint_dir=ckpt,
            fast_round_max=FAST_ROUND_MAX,
        )
        n_part = int(self.spark.conf.get("spark.sql.shuffle.partitions"))
        cpu0, t0 = procstat.tree_cpu_s(), time.time()
        sc.setJobDescription(PRE_ROUNDS)
        res = run_crawl(self.spark, t["web"], cfg,
                        sitemaps=t["sitemaps"], robots=t["robots"])
        t_crawl = time.time()
        sc.setJobDescription(VERIFY)
        fetched = res.pages.filter(F.col("image_id").isNotNull()).select("image_id")
        subset = (
            t["images"].join(F.broadcast(fetched), on="image_id", how="left_semi")
            .repartition(n_part, "image_id")
        )
        probe = decode_verify(subset, t["truth"]).select(
            "decode_ok", "sha_ok", "caption_ok", "phash").collect()
        bad = sum(1 for r in probe
                  if False in (r["decode_ok"], r["sha_ok"], r["caption_ok"]))
        pairs = neardup_pairs([r["phash"] for r in probe if r["phash"] is not None])
        t1, cpu1 = time.time(), procstat.tree_cpu_s()
        return {
            "res": res, "ckpt": ckpt, "start": t0, "end": t1,
            "wall_s": t1 - t0, "verify_s": t1 - t_crawl, "cpu_s": cpu1 - cpu0,
            "processed": res.processed, "images": len(probe),
            "verify_failures": bad, "neardup_pairs": pairs,
            "metrics_rows": res.metrics_rows,
        }

    def check(self, op: dict, expected: dict) -> list[str]:
        """Untimed: compare the crawl with the oracle's digests."""
        self.spark.sparkContext.setJobDescription(CHECK)
        res = op["res"]
        order = sorted((r["seq"], r["url_norm"])
                       for r in res.order.select("seq", "url_norm").collect())
        seen = [r["url_norm"] for r in res.seen.select("url_norm").collect()]
        errors = []
        if op["processed"] != expected["processed"]:
            errors.append(f"processed {op['processed']} != oracle {expected['processed']}")
        if inputs.order_digest(order) != expected["order"]:
            errors.append("crawl order digest differs from the oracle")
        if inputs.seen_digest(seen) != expected["seen"]:
            errors.append("seen-set digest differs from the oracle")
        if op["verify_failures"]:
            errors.append(f"{op['verify_failures']} fetched images failed verification")
        shutil.rmtree(op["ckpt"], ignore_errors=True)
        return errors


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def run(shape, corpus_dir, run_dir, seconds, trace, check_cpu) -> dict:
    """Set up session.SETUP_REPS times, each in a fresh JVM, then crawl
    in a closed loop for ``seconds`` (at least once). With ``trace``
    every crawl is traced; the traced throughput, set against untraced
    runs, is the tracing overhead."""
    bench = CrawlBench(shape, corpus_dir, run_dir)
    setups, parts = [], []
    for rep in range(session.SETUP_REPS):
        if rep:
            session.shutdown()
        t0 = bench.last_setup_start = time.time()
        parts.append(bench.setup())
        setups.append(time.time() - t0)
    with open(os.path.join(corpus_dir, inputs.EXPECTED)) as f:
        expected = json.load(f)

    store = spark_trace.StatusStore(bench.spark)
    spans = spark_trace.Spans()
    ops, traced, errors = [], [], []
    steal0 = procstat.host_cpu_ticks()
    loop0 = time.time()
    while not ops or time.time() - loop0 < seconds:
        op_errors = []
        if trace:
            with spans.patched():
                op = bench.crawl()
            traced.append(_layers(store, spans, op))
            op_errors += traced[-1]["errors"]
        else:
            op = bench.crawl()
        op_errors += bench.check(op, expected)
        if check_cpu and op["cpu_s"] <= op["wall_s"]:
            op_errors.append(
                f"CPU accounting: {op['cpu_s']:.2f} CPU s within a "
                f"{op['wall_s']:.2f} s parallel crawl")
        op["ok"] = not op_errors
        errors += op_errors
        ops.append(op)
    steal = procstat.steal_frac(steal0, procstat.host_cpu_ticks())
    peak_rss = procstat.tree_peak_rss_mb()
    work = _median([o["processed"] / o["wall_s"] for o in ops])
    out = {
        "ops": [{k: v for k, v in o.items() if k not in ("res", "ckpt")} for o in ops],
        "errors": errors,
        "attempted": len(ops),
        "failed": sum(1 for o in ops if not o["ok"]),
        "setups_s": setups,
        "setup_parts_s": parts,
        "host.steal_frac": steal,
        "end_to_end": {
            "work_per_s": work,
            "cpu_ms_per_unit": 1e3 * sum(o["cpu_s"] for o in ops)
            / max(sum(o["processed"] for o in ops), 1),
            "setup_s": _median(setups),
            "peak_rss_mb": peak_rss,
        },
    }
    if trace:
        layers = {k: _median([t["layers"][k] for t in traced])
                  for k in traced[0]["layers"]}
        layers.update(_prepare_layers(store, bench.last_setup_start))
        layers.update(kernel_metrics(os.path.join(corpus_dir, "web.parquet"),
                                     shape.base_url))
        layers["host.steal_frac"] = steal
        layers["mem.peak_rss_mb"] = peak_rss
        layers["trace.work_per_s"] = work
        out["layers"], out["round_table"] = layers, traced[-1]["table"]
    print(f"[perfbench] crawl ops: {[round(o['wall_s'], 2) for o in ops]} "
          f"setups: {[round(s, 2) for s in setups]} "
          f"{[{k: round(v, 2) for k, v in p.items()} for p in parts]}", file=sys.stderr)
    return out


def _layers(store, spans, op) -> dict:
    """Per-layer figures of one traced crawl."""
    store.flush()
    lo, hi = op["start"], op["end"]
    jobs = store.jobs(lo, hi)
    phases = spark_trace.phase_summary(store, jobs, PHASES[1:])
    sent, returned = store.python_bytes(lo, hi, ("fetch",))
    rows = op["res"].metrics_rows
    rounds = {m["round"] for m in rows}
    layers = {f"{p}.{k}": v for p, stats in phases.items() for k, v in stats.items()}
    layers.update({
        "crawl.driver_gap_s": (hi - lo) - spark_trace.union_s(
            spark_trace.clip([(j.start, j.end) for j in jobs], lo, hi)),
        "crawl.rounds": len(rows),
        "crawl.fast_rounds": sum(1 for s in spans.named("fastround.call_s", lo, hi)
                                 if s.arg in rounds),
        "frontier.fetch_ratio": sum(m["fetched"] for m in rows)
        / max(sum(m["frontier_size"] for m in rows), 1),
        "fetch.py_bytes_in": sent,
        "fetch.py_bytes_out": returned,
    })
    for name in ("catalog.commit_s", "fastround.call_s", "seen.anti_join_plan_s",
                 "frontier.expand_plan_s", "frontier.seq_plan_s"):
        layers[name] = spans.total(name, lo, hi)
    table = spark_trace.round_table(jobs, spans, rows, lo, hi)
    layers["crawl.outside_rounds_s"] = sum(
        r["wall_s"] for r in table if isinstance(r["round"], str))
    # a job the phases do not know (a renamed description) would drop
    # out of every phase's figures unnoticed
    errors = sorted({f"job description {j.desc!r} maps to no phase"
                     for j in jobs if j.phase is None})
    return {"layers": layers, "table": table, "errors": errors}


def _prepare_layers(store, since: float) -> dict:
    """prepare.* from the last set-up's prepare_fetch_table jobs."""
    store.flush()
    jobs = [j for j in store.jobs(since, time.time()) if j.phase == "prepare"]
    stats = spark_trace.phase_summary(store, jobs, ("prepare",))["prepare"]
    return {f"prepare.{k}": v for k, v in stats.items()}
