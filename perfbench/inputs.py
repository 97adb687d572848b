"""Seeded benchmark inputs, cached per (workload, scale, seed).

Crawl workloads: the synthetic web corpus from
``fixtures.webgen.generate_corpus`` as parquet, plus digests of the
reference oracle's crawl order and seen set on the same corpus, budget
and politeness seed. The oracle runs once per corpus, while the
uncompressed frames are still in memory.

Query workload: TPC-H-like tables plus ``events``, ``documents`` and
``embeddings`` with the schemas and value domains the registry's
queries read.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
from dataclasses import dataclass

READY = "_READY"          # the entry is complete
EXPECTED = "expected.json"  # oracle digests (crawl workloads)


@dataclass(frozen=True)
class CrawlShape:
    """Corpus and crawl settings of one crawl workload at one scale."""

    gen: dict            # generate_corpus keyword arguments (seed aside)
    base_url: str
    budget: int
    politeness_seed: int = 42


CRAWL_SHAPES = {
    # host0 is hot (x16, 3200 pages) and wide. Round 0 fetches the base
    # and its 13 sitemap URLs in a driver-side fast round; their links
    # (2.2-2.8k: at most 14 pages x 200) are above the fast-round limit,
    # so round 1 goes through the Spark fetch join and kernel. The
    # budget is above rounds 0 and 1 together, so round 1 always runs
    # the Spark expansion and admission anti-join; round 2 fetches
    # through the fused-seq path until the budget stops the crawl. The
    # fast-round limit is crawl_bench.FAST_ROUND_MAX.
    ("crawl_wide", "full"): CrawlShape(
        gen=dict(n_hosts=2, pages_per_host=200, n_images_per_host=48,
                 skew_host=0, skew_factor=16, branching=200),
        base_url="https://host0.test", budget=3000,
    ),
    # the generate_corpus defaults and the golden discovery budget
    ("crawl_wide", "tiny"): CrawlShape(
        gen={}, base_url="https://host0.test", budget=100,
    ),
}

# rows per table of the query workload; "full" is the sf0.01 shape
TABLE_ROWS = {
    "full": dict(customer=1500, supplier=100, part=2000, orders=15000,
                 lineitem=60000, events=10000, documents=500, embeddings=500),
    "tiny": dict(customer=150, supplier=10, part=200, orders=1500,
                 lineitem=6000, events=1000, documents=120, embeddings=120),
}


def entry_dir(cache_dir: str, workload: str, scale: str, seed: int) -> str:
    """The entry's directory; its name carries a digest of the shape,
    so changing a shape never reuses inputs built for the old one."""
    shape = CRAWL_SHAPES.get((workload, scale)) or TABLE_ROWS[scale]
    key = hashlib.sha256(repr(shape).encode()).hexdigest()[:10]
    return os.path.join(cache_dir, workload, f"{scale}-seed{seed}-{key}")


def order_digest(pairs) -> str:
    """sha256 over ``seq\\turl_norm`` lines, in seq order."""
    h = hashlib.sha256()
    for seq, url in pairs:
        h.update(f"{seq}\t{url}\n".encode())
    return h.hexdigest()


def seen_digest(urls) -> str:
    h = hashlib.sha256()
    for url in sorted(urls):
        h.update(f"{url}\n".encode())
    return h.hexdigest()


# --------------------------------------------------------------------------
# crawl corpus + oracle
# --------------------------------------------------------------------------

def _write_corpus(corpus: dict, out: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    from wormpy_spark.fixtures.spark_tables import (
        IMAGES_SCHEMA,
        ROBOTS_SCHEMA,
        SITEMAPS_SCHEMA,
        TRUTH_SCHEMA,
        WEB_SCHEMA,
    )

    def arrow_schema(spark_schema):
        from pyspark.sql.pandas.types import to_arrow_schema

        return to_arrow_schema(spark_schema)

    truth = corpus["images_truth"].copy()
    truth["psnr_floor_db"] = truth["psnr_floor_db"].map(str)
    frames = {
        "web": (corpus["web"], WEB_SCHEMA),
        "images": (corpus["images"], IMAGES_SCHEMA),
        "images_truth": (truth, TRUTH_SCHEMA),
        "sitemaps": (corpus["sitemaps"], SITEMAPS_SCHEMA),
        "robots": (corpus["robots"], ROBOTS_SCHEMA),
    }
    for name, (pdf, schema) in frames.items():
        sch = arrow_schema(schema)
        table = pa.Table.from_pandas(
            pdf[[f.name for f in sch]], schema=sch, preserve_index=False
        )
        pq.write_table(table, os.path.join(out, f"{name}.parquet"))


def build_crawl(workload: str, scale: str, seed: int, out: str) -> None:
    from wormpy_spark.fixtures.webgen import generate_corpus
    from wormpy_spark.oracle import crawl_oracle

    shape = CRAWL_SHAPES[(workload, scale)]
    corpus = generate_corpus(seed=seed, **shape.gen)
    _write_corpus(corpus, out)
    oracle = crawl_oracle(
        corpus, shape.base_url, budget=shape.budget,
        politeness_seed=shape.politeness_seed,
    )
    expected = {
        "processed": len(oracle.order),
        "order": order_digest(enumerate(oracle.order)),
        "seen": seen_digest(oracle.seen),
    }
    with open(os.path.join(out, EXPECTED), "w") as f:
        json.dump(expected, f)


# --------------------------------------------------------------------------
# query tables
# --------------------------------------------------------------------------

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_COLORS = ["red", "blue", "green", "small", "large", "steel", "brass", "shiny"]
_NOUNS = ["widget", "bolt", "ring", "gear", "valve", "panel", "spring", "clip"]
_EVENTS = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
_VOCAB = (
    "a the key agg row scan slow fast table value part hash merge batch "
    "spark line sort window data column order join small customer query "
    "stream filter group big vector index"
).split()


def build_tables(scale: str, seed: int, out: str) -> None:
    import numpy as np
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    rows = TABLE_ROWS[scale]
    rng = np.random.Generator(np.random.PCG64(seed))

    def write(name: str, cols: dict, types: dict) -> None:
        arrays = {k: pa.array(v, type=types[k]) for k, v in cols.items()}
        pq.write_table(pa.table(arrays), os.path.join(out, f"{name}.parquet"))

    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    ts = pa.timestamp("us")

    write("region", {"r_regionkey": np.arange(5, dtype=np.int32),
                     "r_name": _REGIONS},
          {"r_regionkey": i32, "r_name": s})
    write("nation", {"n_nationkey": np.arange(25, dtype=np.int32),
                     "n_name": [f"NATION_{i}" for i in range(25)],
                     "n_regionkey": np.arange(25, dtype=np.int32) % 5},
          {"n_nationkey": i32, "n_name": s, "n_regionkey": i32})

    def money(lo: float, hi: float, n: int):
        return np.round(rng.uniform(lo, hi, n), 2)

    nc, ns, npart = rows["customer"], rows["supplier"], rows["part"]
    write("customer", {
        "c_custkey": np.arange(nc, dtype=np.int64),
        "c_name": [f"Customer#{k:09d}" for k in range(nc)],
        "c_nationkey": rng.integers(0, 25, nc).astype(np.int32),
        "c_acctbal": money(-999.99, 9999.99, nc),
        "c_mktsegment": rng.choice(_SEGMENTS, nc).tolist(),
    }, {"c_custkey": i64, "c_name": s, "c_nationkey": i32,
        "c_acctbal": f64, "c_mktsegment": s})
    write("supplier", {
        "s_suppkey": np.arange(ns, dtype=np.int64),
        "s_name": [f"Supplier#{k:09d}" for k in range(ns)],
        "s_nationkey": rng.integers(0, 25, ns).astype(np.int32),
        "s_acctbal": money(-999.99, 9999.99, ns),
    }, {"s_suppkey": i64, "s_name": s, "s_nationkey": i32, "s_acctbal": f64})
    retail = np.round(900.0 + (np.arange(npart) % 1000) / 10.0, 2)
    write("part", {
        "p_partkey": np.arange(npart, dtype=np.int64),
        "p_name": [f"{_COLORS[a]} {_NOUNS[b]}" for a, b in
                   zip(rng.integers(0, 8, npart), rng.integers(0, 8, npart))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
        "p_type": rng.choice(_PTYPES, npart).tolist(),
        "p_size": rng.integers(1, 51, npart).astype(np.int32),
        "p_retailprice": retail,
    }, {"p_partkey": i64, "p_name": s, "p_brand": s, "p_type": s,
        "p_size": i32, "p_retailprice": f64})

    no, nl = rows["orders"], rows["lineitem"]
    day0 = np.datetime64("1995-01-01", "D")
    odays = rng.integers(0, 2404, no)
    write("orders", {
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, nc, no),
        "o_orderstatus": rng.choice(["F", "O", "P"], no).tolist(),
        "o_totalprice": money(1000.0, 500000.0, no),
        "o_orderdate": (day0 + odays).astype("datetime64[us]"),
        "o_orderpriority": rng.choice(_PRIORITIES, no).tolist(),
    }, {"o_orderkey": i64, "o_custkey": i64, "o_orderstatus": s,
        "o_totalprice": f64, "o_orderdate": ts, "o_orderpriority": s})
    lok = rng.integers(0, no, nl)
    lpk = rng.integers(0, npart, nl)
    qty = rng.integers(1, 51, nl).astype(np.float64)
    write("lineitem", {
        "l_orderkey": lok,
        "l_partkey": lpk,
        "l_suppkey": rng.integers(0, ns, nl),
        "l_linenumber": rng.integers(1, 8, nl).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * retail[lpk] * rng.uniform(0.98, 1.02, nl), 2),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], nl).tolist(),
        "l_linestatus": rng.choice(["F", "O"], nl).tolist(),
        "l_shipdate": (day0 + odays[lok] + rng.integers(1, 122, nl)).astype(
            "datetime64[us]"),
    }, {"l_orderkey": i64, "l_partkey": i64, "l_suppkey": i64,
        "l_linenumber": i32, "l_quantity": f64, "l_extendedprice": f64,
        "l_discount": f64, "l_tax": f64, "l_returnflag": s,
        "l_linestatus": s, "l_shipdate": ts})

    ne = rows["events"]
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * 86400 * 10**6, ne))
    write("events", {
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": t0 + offs.astype("timedelta64[us]"),
        "user_id": rng.integers(0, max(ne // 66, 10), ne),
        "event_type": rng.choice(_EVENTS, ne).tolist(),
        "value": np.round(rng.exponential(50.0, ne), 2) + 0.01,
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    }, {"event_id": i64, "ts": ts, "user_id": i64, "event_type": s,
        "value": f64, "props": s})

    nd = rows["documents"]
    texts: list[str] = []
    for d in range(nd):
        if d > 10 and rng.random() < 0.05:
            # near-duplicate of an earlier document: one word swapped
            words = texts[int(rng.integers(0, d))].split()
            words[int(rng.integers(0, len(words)))] = _VOCAB[int(rng.integers(0, len(_VOCAB)))]
        else:
            words = [_VOCAB[i] for i in rng.integers(0, len(_VOCAB), int(rng.integers(10, 100)))]
        texts.append(" ".join(words))
    write("documents", {
        "doc_id": np.arange(nd, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(_LANGS, nd).tolist(),
        "source": [f"src{k}" for k in rng.integers(0, 20, nd)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }, {"doc_id": i64, "text": s, "lang": s, "source": s, "n_chars": i64})

    nv, dim = rows["embeddings"], 64
    labels = rng.integers(0, 10, nv)
    centers = rng.normal(0.0, 1.0, (10, dim))
    vecs = centers[labels] + rng.normal(0.0, 0.6, (nv, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    write("embeddings", {
        "vec_id": np.arange(nv, dtype=np.int64),
        "embedding": pd.Series(list(vecs)).map(list).tolist(),
        "label": labels.astype(np.int32),
    }, {"vec_id": i64, "embedding": pa.list_(pa.float32()), "label": i32})


def build(workload: str, scale: str, seed: int, cache_dir: str) -> str:
    """Build the cache entry unless it is complete; return its path."""
    out = entry_dir(cache_dir, workload, scale, seed)
    if os.path.exists(os.path.join(out, READY)):
        return out
    shutil.rmtree(out, ignore_errors=True)  # left incomplete by a killed run
    os.makedirs(out)
    if workload == "query_sweep":
        build_tables(scale, seed, out)
    else:
        build_crawl(workload, scale, seed, out)
    open(os.path.join(out, READY), "w").close()
    return out
