#!/usr/bin/env python
"""Round-6 optimization measurement harness (NOT the driver contract —
bench.py is frozen; this file exists so optimization evidence can be
gathered per guide §1 without touching the measured harness).

Subcommands:

  queries [names...]   time each registry query at $SPARK_GRAFT_SF_DIR
                       (default sf0.1) on local[$SPARK_GRAFT_CPUS],
                       min-of-N (default 2), via .count() — the same
                       materialization the frozen bench.py uses — and
                       optionally via the noop sink (guide §1.4) with
                       --noop, which computes every column.
  explain [names...]   write .explain("formatted") for each query to
                       plans/r06/<name>_<tag>.txt (--tag before|after).
  crawl --cpus N       one bench_crawl trial at local[N] on the cached
                       base corpus; prints wall + per-round phase walls.
"""

from __future__ import annotations

import argparse
import io
import json
import os
import sys
import time
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from wormpy_spark.session import local_cpus  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = local_cpus()


def _spark():
    from wormpy_spark.session import get_spark

    spark = get_spark(
        "bench_extra",
        master=f"local[{CPUS}]",
        shuffle_partitions=CPUS,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _warm(spark):
    def _noop(it):
        for b in it:
            yield b

    spark.range(1024).mapInPandas(_noop, "id long").count()


def cmd_queries(args) -> None:
    from wormpy_spark.plans.registry import full_registry

    spark = _spark()
    _warm(spark)
    registry = full_registry()
    names = args.names or [
        n for n in registry if n not in ("dedup_ngram_jaccard", "dedup_embedding_cosine")
    ]
    out: dict[str, float] = {}
    for name in names:
        fn = registry[name][0]
        best = None
        for _ in range(args.trials):
            spark.sparkContext.setJobDescription(f"bench_extra:{name}")
            t0 = time.time()
            df = fn(spark, SF_DIR)
            if args.noop:
                df.write.format("noop").mode("overwrite").save()
            else:
                df.count()
            dt = time.time() - t0
            best = dt if best is None else min(best, dt)
        out[name] = round(best, 3)
        print(f"{name}: {out[name]}", file=sys.stderr, flush=True)
    print(json.dumps({"queries": out, "total": round(sum(out.values()), 3),
                      "sf": SF_DIR, "trials": args.trials, "noop": args.noop}))


def cmd_explain(args) -> None:
    from wormpy_spark.plans.registry import full_registry

    spark = _spark()
    registry = full_registry()
    names = args.names or list(registry)
    os.makedirs(args.outdir, exist_ok=True)
    for name in names:
        fn = registry[name][0]
        try:
            df = fn(spark, SF_DIR)
            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain("formatted")
            path = os.path.join(args.outdir, f"{name}_{args.tag}.txt")
            with open(path, "w") as f:
                f.write(buf.getvalue())
            print(f"wrote {path}", file=sys.stderr)
        except Exception as e:
            print(f"{name}: EXPLAIN FAILED: {e}", file=sys.stderr)


def cmd_crawl(args) -> None:
    from wormpy_spark.bench_crawl import run

    os.environ["SPARK_GRAFT_CPUS"] = str(args.cpus)
    res = run(args.cpus, args.corpus, args.budget)
    print(json.dumps(res))


def main() -> None:
    ap = argparse.ArgumentParser()
    sub = ap.add_subparsers(dest="cmd", required=True)
    q = sub.add_parser("queries")
    q.add_argument("names", nargs="*")
    q.add_argument("--trials", type=int, default=2)
    q.add_argument("--noop", action="store_true")
    q.set_defaults(fn=cmd_queries)
    e = sub.add_parser("explain")
    e.add_argument("names", nargs="*")
    e.add_argument("--tag", default="before")
    e.add_argument("--outdir", default="plans/r06")
    e.set_defaults(fn=cmd_explain)
    c = sub.add_parser("crawl")
    c.add_argument("--cpus", type=int, required=True)
    c.add_argument("--corpus", default="/tmp/wormpy_bench_corpus_v2")
    c.add_argument("--budget", type=int, default=450000)
    c.set_defaults(fn=cmd_crawl)
    args = ap.parse_args()
    args.fn(args)


if __name__ == "__main__":
    main()
