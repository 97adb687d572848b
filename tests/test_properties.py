"""Property-based + invariance tests (SURVEY.md §5.3-4/5):

- canonicalize idempotence over adversarial URL-ish strings
- distribution invariance: the crawl's (seq, url) sequence must be
  IDENTICAL at different partition counts — the core property that
  makes the ordering claim survive a 1000-executor cluster
- checkpoint resume ≡ uninterrupted run, at every round boundary
- skewed corpus (one host holding ~2/3 of pages) crawls identically
  to the oracle
"""

from __future__ import annotations

from collections import Counter

from pyspark.sql import functions as F
import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st

from wormpy_spark.fixtures.spark_tables import corpus_to_spark
from wormpy_spark.fixtures.webgen import generate_corpus
from wormpy_spark.functions.urlnorm import normalize_url
from wormpy_spark.oracle import crawl_oracle
from wormpy_spark.plans.crawl import CrawlConfig, run_crawl

url_like = st.text(
    alphabet=st.characters(whitelist_categories=("Ll", "Lu", "Nd"), whitelist_characters=":/?#.&=_- "),
    min_size=0,
    max_size=60,
)


@given(url_like)
@settings(max_examples=200, deadline=None)
def test_canonicalize_idempotent(u):
    try:
        once = normalize_url(u)
    except ValueError:
        return  # urlparse rejects some garbage; the engine sees pre-parsed URLs
    assert normalize_url(once) == once


@pytest.fixture(scope="module")
def small_corpus():
    return generate_corpus(seed=11, n_hosts=2, pages_per_host=12, n_images_per_host=4)


def _crawl_order(spark, tables, shuffle_partitions):
    spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
    try:
        cfg = CrawlConfig(base_url="https://host0.test", budget=50, politeness_seed=7)
        res = run_crawl(spark, tables["web"], cfg, sitemaps=tables["sitemaps"])
        return [(r["seq"], r["url_norm"]) for r in res.order.collect()]
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", "8")


def test_partition_count_invariance(spark, small_corpus):
    tables = corpus_to_spark(spark, small_corpus)
    o2 = _crawl_order(spark, tables, 2)
    o13 = _crawl_order(spark, tables, 13)
    assert o2 == o13 and len(o2) > 5


def test_resume_equals_uninterrupted(spark, small_corpus, tmp_path):
    tables = corpus_to_spark(spark, small_corpus)
    full = run_crawl(
        spark, tables["web"],
        CrawlConfig(base_url="https://host0.test", budget=50, politeness_seed=7),
        sitemaps=tables["sitemaps"],
    )
    ckpt = str(tmp_path / "ckpt")
    run_crawl(
        spark, tables["web"],
        CrawlConfig(base_url="https://host0.test", budget=50, politeness_seed=7,
                    checkpoint_dir=ckpt, max_rounds=1),
        sitemaps=tables["sitemaps"],
    )
    resumed = run_crawl(
        spark, tables["web"],
        CrawlConfig(base_url="https://host0.test", budget=50, politeness_seed=7,
                    checkpoint_dir=ckpt, resume=True),
        sitemaps=tables["sitemaps"],
    )
    assert [r["url_norm"] for r in resumed.order.collect()] == [
        r["url_norm"] for r in full.order.collect()
    ]
    # politeness clocks must survive the resume too
    full_state = {r["host"]: (r["attempts"], round(r["clock_s"], 6)) for r in full.host_state.collect()}
    res_state = {r["host"]: (r["attempts"], round(r["clock_s"], 6)) for r in resumed.host_state.collect()}
    assert full_state == res_state


def test_skewed_host_parity(spark):
    corpus = generate_corpus(
        seed=23, n_hosts=2, pages_per_host=15, n_images_per_host=4,
        skew_host=0, skew_factor=3,
    )
    tables = corpus_to_spark(spark, corpus)
    oracle = crawl_oracle(corpus, "https://host0.test", budget=60, politeness_seed=9)
    res = run_crawl(
        spark, tables["web"],
        CrawlConfig(base_url="https://host0.test", budget=60, politeness_seed=9),
        sitemaps=tables["sitemaps"],
    )
    assert [r["url_norm"] for r in res.order.collect()] == oracle.order
    assert {r["url_norm"] for r in res.seen.collect()} == oracle.seen


def test_host_throttle_mode(spark, small_corpus):
    """Production politeness throttle (max k fetches/host/round): caps
    per-round host load, defers (never drops) — the final seen set and
    the per-host relative order match the unthrottled run."""
    tables = corpus_to_spark(spark, small_corpus)
    base_cfg = dict(base_url="https://host0.test", budget=50, politeness_seed=7)
    free = run_crawl(spark, tables["web"], CrawlConfig(**base_cfg), sitemaps=tables["sitemaps"])
    capped = run_crawl(
        spark, tables["web"],
        CrawlConfig(**base_cfg, max_per_host_per_round=3),
        sitemaps=tables["sitemaps"],
    )
    per_round = {
        (r["round"], r["host"]): r["n"]
        for r in capped.pages.groupBy("round", "host").agg(F.count("*").alias("n")).collect()
    }
    assert per_round and all(n <= 3 for n in per_round.values())
    assert {r["url_norm"] for r in capped.seen.collect()} == {
        r["url_norm"] for r in free.seen.collect()
    }
    order_free = [r["url_norm"] for r in free.order.collect()]
    order_capped = [r["url_norm"] for r in capped.order.collect()]
    # deferral preserves relative priority within the single host
    assert order_capped == order_free


def _job_descriptions(spark) -> dict[int, str | None]:
    """Job id → description of every job in the context's status store,
    which Spark keeps whether or not the UI runs."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty(30_000)
    out = {}
    for job in sc._jvm.scala.jdk.javaapi.CollectionConverters.asJava(
        jsc.statusStore().jobsList(None)
    ):
        desc = job.description()
        out[job.jobId()] = desc.get() if desc.isDefined() else None
    return out


def test_throttled_crawl_runs_no_seq_job(spark, small_corpus):
    """A throttled frontier publishes its bucket counts like every
    other frontier, so no round runs a job to count them, and a crawl
    that drains before its budget stops on the published zero counts
    without running a job in the round that finds them. Seeding runs no
    job of its own either: the seeds are admitted on the driver."""
    import re

    tables = corpus_to_spark(spark, small_corpus)
    caller = spark.sparkContext.getLocalProperty("spark.job.description")
    before = set(_job_descriptions(spark))
    res = run_crawl(
        spark, tables["web"],
        CrawlConfig(base_url="https://host0.test", budget=50, politeness_seed=7,
                    max_per_host_per_round=3, fast_round_max=0),
        sitemaps=tables["sitemaps"],
    )
    assert res.processed < 50, "the crawl must drain before its budget"
    descs = [d for j, d in _job_descriptions(spark).items() if j not in before]
    labels = [d or "" for d in descs]
    rounds = [int(m.group(1)) for d in labels if (m := re.match(r"crawl r(\d+)", d))]
    assert rounds and max(rounds) < res.rounds
    assert not [d for d in labels if "global seq" in d]
    # the caller's jobs: the 2 sitemap lookups (probe URLs, then the
    # sub-sitemaps) and preparing the unprepared web table, whose
    # materializing count runs 4 jobs (one per AQE stage) and whose
    # probe skip-set collect 1. No seed is suspicious: no probe lookup
    assert sum(d == caller for d in descs) == 2 + 5


def test_crawl_restores_caller_job_description(spark, small_corpus):
    """The rounds label their jobs; the caller's own label (or none) is
    back when the crawl returns, so the caller's next jobs, and the next
    crawl's seeding jobs, do not carry the last round's label."""
    sc = spark.sparkContext
    tables = corpus_to_spark(spark, small_corpus)
    cfg = CrawlConfig(base_url="https://host0.test", budget=5)
    try:
        for desc in ("caller label", None):
            sc.setJobDescription(desc)
            run_crawl(spark, tables["web"], cfg, sitemaps=tables["sitemaps"])
            assert sc.getLocalProperty("spark.job.description") == desc
    finally:
        sc.setJobDescription(None)


def test_shuffle_anti_join_parity(spark, small_corpus, monkeypatch):
    """The admission anti-join's shuffled rung (seen at or above
    BROADCAST_SEEN_MAX) must crawl exactly like the broadcast rung:
    same order, seen set and page rows."""
    import wormpy_spark.plans.crawl as crawl_mod
    from wormpy_spark.operators import seen as seen_mod

    tables = corpus_to_spark(spark, small_corpus)
    # fast_round_max=0: admission anti-joins run only on the Spark path
    broadcast = _full_outputs(spark, tables, fast_round_max=0)

    plans = []
    stock = crawl_mod.anti_join_seen

    def recording(*args):
        out = stock(*args)
        plans.append(out._jdf.queryExecution().executedPlan().toString())
        return out

    monkeypatch.setattr(seen_mod, "BROADCAST_SEEN_MAX", 0)
    monkeypatch.setattr(crawl_mod, "anti_join_seen", recording)
    # the seen snapshots are tiny, so without this Spark's planner would
    # broadcast them on its own and the shuffled join would never run
    threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        shuffled = _full_outputs(spark, tables, fast_round_max=0)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
    # the anti-join's own plan line (upstream cached stages keep their
    # own broadcast joins, e.g. the fetch's due-key semi-join)
    anti = [ln for p in plans for ln in p.splitlines() if "LeftAnti" in ln]
    assert anti and all(
        "SortMergeJoin" in ln or "ShuffledHashJoin" in ln for ln in anti
    )
    assert shuffled[:3] == broadcast[:3]


def _probe_cap(cfg: dict, monkeypatch) -> dict:
    """Crawl shapes name ``crawl.PROBE_BROADCAST_MAX`` (a module
    constant) beside the CrawlConfig fields: set it, return the fields."""
    import wormpy_spark.plans.crawl as crawl_mod

    cfg = dict(cfg)
    if "PROBE_BROADCAST_MAX" in cfg:
        monkeypatch.setattr(
            crawl_mod, "PROBE_BROADCAST_MAX", cfg.pop("PROBE_BROADCAST_MAX")
        )
    return cfg


def test_probe_fast_and_join_paths_agree(spark, small_corpus, monkeypatch):
    """P5/P6 probe: the broadcast skip-set fast path and the per-round
    semi-join scale path must produce identical crawls. So must a crawl
    seeded with a suspicious URL, on either round kind and under either
    strategy: the seeds are admitted once, on the driver, so an image/*
    seed is skipped and never gets a seq, and a text/html one is
    fetched."""
    import wormpy_spark.plans.crawl as crawl_mod

    tables = corpus_to_spark(spark, small_corpus)
    image = "https://host0.test/gallery/pic5.jpg"
    html = "https://host0.test/print/page2.jpg"
    types = {
        r["url_norm"]: r["content_type"]
        for r in tables["web"].filter(F.col("url_norm").isin(image, html)).collect()
    }
    assert types == {image: "image/jpeg", html: "text/html"}
    # Spark round 0, then a fast one; the semi-join strategy is added below
    seeded = {
        b: [_full_outputs(spark, tables, base_url=b, fast_round_max=0)[:3],
            _full_outputs(spark, tables, base_url=b)[:3]]
        for b in (image, html)
    }
    # fast_round_max=0: compare the two SPARK probe strategies (the
    # driver fast path has its own skip-set check, tested separately)
    base_cfg = dict(base_url="https://host0.test", budget=50, politeness_seed=7,
                    fast_round_max=0)
    fast = run_crawl(
        spark, tables["web"], CrawlConfig(**base_cfg), sitemaps=tables["sitemaps"]
    )
    monkeypatch.setattr(crawl_mod, "PROBE_BROADCAST_MAX", 0)
    joined = run_crawl(
        spark, tables["web"], CrawlConfig(**base_cfg), sitemaps=tables["sitemaps"]
    )
    assert [r["url_norm"] for r in fast.order.collect()] == [
        r["url_norm"] for r in joined.order.collect()
    ]
    for b, outputs in seeded.items():
        outputs.append(_full_outputs(spark, tables, base_url=b)[:3])
        assert outputs[0] == outputs[1] == outputs[2], b
    order, seen, _ = seeded[image][0]
    assert order == [] and seen == []
    order, seen, _ = seeded[html][0]
    assert order[0] == (0, html) and html in seen


def _full_outputs(spark, tables, base_url="https://host0.test", **cfg_kwargs):
    cfg = CrawlConfig(base_url=base_url, budget=50,
                      politeness_seed=7, **cfg_kwargs)
    res = run_crawl(spark, tables["web"], cfg, sitemaps=tables["sitemaps"])
    order = [(r["seq"], r["url_norm"]) for r in res.order.collect()]
    seen = sorted(r["url_norm"] for r in res.seen.collect())
    pages = {r["seq"]: r.asDict(recursive=True) for r in res.pages.collect()}
    errors = [m["errors"] for m in res.metrics_rows]
    return order, seen, pages, errors


def test_driver_fast_path_equals_spark_path(spark, small_corpus, monkeypatch):
    """The driver fast path (plans/fastround.py) must be output-
    identical to the Spark path — order, seen set, every page row, and
    per-round error counts — both when the whole crawl fits in fast
    mode and when it transitions to the Spark path mid-crawl."""
    import wormpy_spark.plans.crawl as crawl_mod

    fast_rounds = []
    real = crawl_mod.run_fast_round

    def spy(r, *args, **kwargs):
        fast_rounds.append(r)
        return real(r, *args, **kwargs)

    monkeypatch.setattr(crawl_mod, "run_fast_round", spy)
    tables = corpus_to_spark(spark, small_corpus)
    spark_path = _full_outputs(spark, tables, fast_round_max=0)
    all_fast = _full_outputs(spark, tables, fast_round_max=4096)
    assert all_fast == spark_path
    assert len(spark_path[0]) > 5

    # host1 has no sitemap: its one seed and round 1's 3 rows take fast
    # rounds; with the throttle, round 2's frontier (deferred + expanded
    # rows) holds 11 and the crawl hands over to the Spark path
    # (snapshot-mediated transition)
    throttle = dict(base_url="https://host1.test", max_per_host_per_round=3)
    fast_rounds.clear()
    throttled_spark = _full_outputs(spark, tables, fast_round_max=0, **throttle)
    assert fast_rounds == []
    mixed = _full_outputs(spark, tables, fast_round_max=3, **throttle)
    assert fast_rounds, "no fast round ran"
    # mixed[3] holds one error count per round
    assert len(mixed[3]) > len(fast_rounds), "no Spark round ran"
    assert mixed == throttled_spark

    # every page's lineage shard is Spark's hash of its host, whichever
    # kind of round fetched it
    for outputs in (spark_path, all_fast, mixed):
        pages = list(outputs[2].values())
        want = {
            r["host"]: r["shard"]
            for r in spark.createDataFrame([(p["host"],) for p in pages], "host string")
            .select("host", F.pmod(F.xxhash64("host"), F.lit(64)).alias("shard"))
            .collect()
        }
        assert [p["host_shard"] for p in pages] == [want[p["host"]] for p in pages]


def test_assign_global_seq_matches_sorted_reference(spark):
    """The dense global sequence equals a plain Python sort of the
    (round_enqueued, parent_seq, sibling_rank) triple the packed
    priority encodes, offset by ``start``, over rows that span several
    rounds, each with its own disjoint, increasing parent_seq range —
    the shape every frontier has (seq is assigned in round order; a
    throttle's deferred rows sit below the newest parents and clamp to
    bucket 0), given the true bucket counts; an empty input yields no
    rows."""
    import random

    from wormpy_spark.operators.frontier import (
        FRONTIER_SCHEMA,
        assign_global_seq,
        priority,
        seq_bucket,
        seq_bucket_col,
    )

    rng = random.Random(31337)
    triples = set()
    while len(triples) < 5000:
        renq = rng.randrange(3, 7)
        # round r's parents: seq range [2000 r, 2000 (r + 1))
        pseq = 2000 * renq + rng.randrange(2000)
        triples.add((renq, pseq, rng.randrange(1, 300)))
    by_url = {f"https://h.test/p/{i}": t for i, t in enumerate(triples)}
    rows = [(url, priority(pseq, srank)) for url, (_, pseq, srank) in by_url.items()]
    # the parents' range [9000, 14000) spans two rounds; rounds 3-4
    # below it clamp to bucket 0
    parents, n_buckets = (9000, 14000), 8
    df = spark.createDataFrame(rows, FRONTIER_SCHEMA).withColumn(
        "seq_bucket", seq_bucket_col(*parents, n_buckets)
    )
    true_counts = Counter(seq_bucket(prio, *parents, n_buckets) for _, prio in rows)
    assert len(true_counts) == n_buckets
    want = [(123 + i, url) for i, url in enumerate(sorted(by_url, key=by_url.get))]
    out, total = assign_global_seq(df, 123, dict(true_counts))
    got = sorted((r["seq"], r["url_norm"]) for r in out.select("seq", "url_norm").collect())
    assert total == 5000 and got == want

    empty = spark.createDataFrame([], FRONTIER_SCHEMA + ", seq_bucket int")
    out, total = assign_global_seq(empty, 7, {})
    assert total == 0 and out.count() == 0


parent_seqs = st.one_of(st.sampled_from([-1, 2**35 - 2]), st.integers(-1, 2**35 - 2))
sibling_ranks = st.one_of(st.sampled_from([0, 2**28 - 1]), st.integers(0, 2**28 - 1))


@given(st.lists(st.tuples(parent_seqs, sibling_ranks), min_size=1, max_size=40))
@example([(-1, 0), (-1, 2**28 - 1), (0, 0), (2**35 - 2, 0), (2**35 - 2, 2**28 - 1)])
@settings(max_examples=25, deadline=None)
def test_priority_orders_like_the_pair(spark, pairs):
    """The packed priority is a non-negative BIGINT that orders exactly
    like ``(parent_seq, sibling_rank)`` over the whole fixed split, its
    boundaries included, and the Column twin equals it row by row."""
    from wormpy_spark.operators.frontier import (
        SEQ_LIMIT,
        SIBLING_LIMIT,
        priority,
        priority_col,
    )

    assert (SEQ_LIMIT, SIBLING_LIMIT) == (2**35, 2**28)
    distinct = sorted(set(pairs))
    packed = [priority(*pair) for pair in distinct]
    assert packed == sorted(set(packed)), "not strictly monotone in the pair"
    assert 0 <= packed[0] and packed[-1] < 2**63
    df = spark.createDataFrame(pairs, "parent_seq long, sibling_rank long")
    got = df.select(
        "parent_seq", "sibling_rank",
        priority_col(F.col("parent_seq"), F.col("sibling_rank")).alias("p"),
    ).collect()
    assert [tuple(r) for r in got] == [(*pair, priority(*pair)) for pair in pairs]


def test_dedup_within_round_is_a_hash_aggregate(spark):
    """The candidate dedup is a min over one BIGINT: a HashAggregate
    (with a map-side partial aggregate), never a SortAggregate."""
    from wormpy_spark.operators.frontier import FRONTIER_SCHEMA, dedup_within_round

    rows = [("https://h.test/a", 9), ("https://h.test/b", 4), ("https://h.test/a", 5)]
    out = dedup_within_round(spark.createDataFrame(rows, FRONTIER_SCHEMA))
    assert sorted(map(tuple, out.collect())) == [("https://h.test/a", 5), ("https://h.test/b", 4)]
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "HashAggregate" in plan and "SortAggregate" not in plan, plan


def test_expand_frontier_paths_agree(spark, small_corpus):
    """The fetch kernel's pre-canonicalized ``discovered_norm`` and the
    canonicalize-UDF path over ``discovered_urls`` (which the resume
    rebuild takes over snapshot pages) expand a small_corpus due set to
    the same ``(url_norm, priority)`` rows."""
    from pyspark.sql import Window

    from wormpy_spark.operators.fetch import PAGES_SCHEMA_EXPAND, make_fetch_extract
    from wormpy_spark.operators.frontier import expand_frontier

    base = normalize_url("https://host0.test")
    web = corpus_to_spark(spark, small_corpus)["web"]
    due = (
        web.select("url_norm", "host")
        .withColumn("seq", F.row_number().over(Window.orderBy("url_norm")) - 1)
        .withColumn("round", F.lit(0))
        .withColumn("host_shard", F.lit(0))
    )
    pages = due.join(web.drop("url", "host", "links"), on="url_norm", how="left").mapInArrow(
        make_fetch_extract(True, scope_base=base), PAGES_SCHEMA_EXPAND
    ).persist()
    try:
        fast = sorted(map(tuple, expand_frontier(pages, base).collect()))
        slow = sorted(map(tuple, expand_frontier(pages.drop("discovered_norm"), base).collect()))
    finally:
        pages.unpersist()
    assert len(fast) > 20 and len({url for url, _ in fast}) < len(fast)
    assert fast == slow


def _kernel_batch(n_links: int):
    """One joined (frontier ⋈ web) row for the fetch kernel: an HTML
    page past the dynamic-content threshold with ``n_links`` in-scope
    links."""
    import pyarrow as pa

    links = "".join(f'<a href="/p/{i}">p{i}</a>' for i in range(n_links))
    body = f"<html><body><p>{'wormpy ' * 100}</p>{links}</body></html>"
    return pa.RecordBatch.from_pydict({
        "url_norm": ["https://host0.test"], "seq": [0], "round": [0],
        "host": ["host0.test"], "host_shard": [0], "status": [200],
        "content_type": ["text/html"], "body": [body.encode()],
    })


def test_fetch_kernel_refuses_more_siblings_than_priority_holds(monkeypatch):
    """A page whose in-scope expansion set reaches SIBLING_LIMIT entries
    raises in the fetch kernel (every expansion, Spark or fast, and the
    resume rebuild's pages pass it) instead of wrapping into the
    parent's bits of the priority."""
    import wormpy_spark.operators.fetch as fetch_mod

    monkeypatch.setattr(fetch_mod, "SIBLING_LIMIT", 4)
    kernel = fetch_mod.make_fetch_extract(True, scope_base="https://host0.test")
    (out,) = list(kernel(iter([_kernel_batch(3)])))
    assert len(out.column("discovered_norm")[0]) == 3
    with pytest.raises(ValueError, match="4 in-scope links"):
        list(kernel(iter([_kernel_batch(4)])))


def test_seeding_refuses_more_seeds_than_priority_holds(spark, small_corpus, monkeypatch):
    """A crawl whose seeds (the base plus the sitemap URLs) reach
    SIBLING_LIMIT raises before round 0."""
    import wormpy_spark.plans.crawl as crawl_mod
    from wormpy_spark.plans.crawl import prepare_fetch_table
    from wormpy_spark.sources import sitemap

    monkeypatch.setattr(crawl_mod, "SIBLING_LIMIT", 3)
    monkeypatch.setattr(sitemap, "sitemap_urls", lambda sitemaps, base: [f"{base}/a", f"{base}/b"])
    tables = corpus_to_spark(spark, small_corpus)
    web = prepare_fetch_table(spark, tables["web"])
    try:
        with pytest.raises(ValueError, match="3 seeds"):
            run_crawl(spark, web, CrawlConfig(base_url="https://host0.test"),
                      sitemaps=tables["sitemaps"])
    finally:
        web.unpersist()


@pytest.mark.parametrize("failure", ["seeding", "round-1 commit"])
def test_crawl_releases_its_caches_when_it_raises(spark, small_corpus,
                                                   monkeypatch, failure):
    """A crawl that raises, before round 0 or mid-crawl, leaves no
    cached table behind in the session: not the web it prepared itself,
    nor its seen or pages caches."""
    import wormpy_spark.plans.crawl as crawl_mod
    from wormpy_spark.sources import sitemap
    from wormpy_spark.sources.catalog import SnapshotCatalog

    if failure == "seeding":
        monkeypatch.setattr(crawl_mod, "SIBLING_LIMIT", 3)
        monkeypatch.setattr(sitemap, "sitemap_urls",
                            lambda sitemaps, base: [f"{base}/a", f"{base}/b"])
        match, cfg = "3 seeds", {}
    else:
        stock = SnapshotCatalog.commit

        def failing_commit(self, round_id, *args, **kwargs):
            if round_id == 1:
                raise RuntimeError("commit failed")
            return stock(self, round_id, *args, **kwargs)

        monkeypatch.setattr(SnapshotCatalog, "commit", failing_commit)
        match, cfg = "commit failed", {"fast_round_max": 0}
    tables = corpus_to_spark(spark, small_corpus)
    persistent = spark.sparkContext._jsc.getPersistentRDDs
    before = persistent().size()
    with pytest.raises((ValueError, RuntimeError), match=match):
        run_crawl(spark, tables["web"], CrawlConfig(base_url="https://host0.test", **cfg),
                  sitemaps=tables["sitemaps"])
    assert persistent().size() == before


@pytest.mark.parametrize(
    "field, bad, ok",
    [
        ("max_per_host_per_round", 0, 1),
        ("budget", -1, 0),
        ("budget", 2**35, 2**35 - 1),
        ("fast_round_max", -1, 0),
        ("max_rounds", 0, 1),
    ],
)
def test_crawl_config_refuses_out_of_range(field, bad, ok):
    """CrawlConfig refuses, at construction, a value that would end the
    crawl silently (a zero throttle defers every row, so round 0 finds
    no eligible row) or overflow the frontier's priority; the boundary
    value is accepted."""
    CrawlConfig(base_url="https://host0.test", **{field: ok})
    with pytest.raises(ValueError, match=field):
        CrawlConfig(base_url="https://host0.test", **{field: bad})


# host1 has no sitemap: 1 seed, then throttled frontiers of 3 and 11
HANDOVER = dict(base_url="https://host1.test", budget=12,
                max_per_host_per_round=3, fast_round_max=3)
ADMISSION_SHAPES = {
    "handover": HANDOVER,
    "spark": dict(base_url="https://host1.test", budget=50, fast_round_max=0),
    "throttled": dict(budget=15, max_per_host_per_round=3, fast_round_max=0),
    # fastround's own frontier: deferred rows and expansions meet there
    "fast-throttled": dict(budget=12, max_per_host_per_round=3),
    "probe-join": dict(base_url="https://host1.test", budget=50,
                       fast_round_max=0, PROBE_BROADCAST_MAX=0),
}


@pytest.mark.parametrize("shape", list(ADMISSION_SHAPES))
def test_every_frontier_is_admitted_once(spark, small_corpus, tmp_path,
                                         monkeypatch, shape):
    """Every frontier snapshot holds distinct url_norm values, none of
    them in any earlier pages snapshot: the round that pops it applies
    no dedup or seen check of its own. In priority order, the round in
    which each row's parent was fetched (seeds: -1) never decreases, so
    parent_seq buckets follow the order the rows were enqueued in.
    Under a throttle it holds at most
    k unmarked rows per host, and none are marked without one. Every
    frontier publishes its bucket counts — seeds, Spark and fastround
    writes, under both probe strategies and the throttle — so the
    ranker always receives them."""
    import wormpy_spark.plans.crawl as crawl_mod
    from wormpy_spark.operators.frontier import SIBLING_BITS
    from wormpy_spark.sources.catalog import SnapshotCatalog

    calls = []  # (start, the counts the ranker received)
    stock = crawl_mod.assign_global_seq

    def spy(frontier, start, counts):
        calls.append((start, counts))
        return stock(frontier, start, counts)

    monkeypatch.setattr(crawl_mod, "assign_global_seq", spy)
    tables = corpus_to_spark(spark, small_corpus)
    ckpt = str(tmp_path / "ckpt")
    res = run_crawl(
        spark, tables["web"],
        CrawlConfig(**{**RESUME_BASE, **_probe_cap(ADMISSION_SHAPES[shape],
                                                   monkeypatch)},
                    checkpoint_dir=ckpt),
        sitemaps=tables["sitemaps"],
    )
    assert res.rounds > 2

    history = SnapshotCatalog(ckpt).read_manifest()["history"]
    fetched: set[str] = set()
    fetch_round = {-1: -1}  # seq → the round that fetched it; seeds' parent
    n_frontiers = 0
    for rec in history:
        pages = spark.read.parquet(rec["tables"]["pages"]).collect()
        fetched |= {r["url_norm"] for r in pages}
        fetch_round.update((r["seq"], rec["round"]) for r in pages)
        if "frontier" not in rec["tables"]:
            continue
        rows = spark.read.parquet(rec["tables"]["frontier"]).collect()
        urls = [row["url_norm"] for row in rows]
        n_frontiers += 1
        assert len(urls) == len(set(urls)), f"round {rec['round']}: duplicates"
        assert not fetched & set(urls), f"round {rec['round']}: already fetched"
        parent_rounds = [
            fetch_round[(prio >> SIBLING_BITS) - 1]
            for prio in sorted(row["priority"] for row in rows)
        ]
        assert parent_rounds == sorted(parent_rounds), (
            f"round {rec['round']}: enqueue rounds out of priority order"
        )
        k = ADMISSION_SHAPES[shape].get("max_per_host_per_round")
        if k is None:
            assert not any(row["deferred"] for row in rows)
        else:
            unmarked = Counter(row["host"] for row in rows if not row["deferred"])
            assert all(n <= k for n in unmarked.values()), (
                f"round {rec['round']}: more than {k} unmarked rows per host"
            )
    assert n_frontiers > 1

    assert all(counts is not None for _, counts in calls)
    if shape == "throttled":
        assert len(calls) == res.rounds


def test_resume_refuses_unadmitted_checkpoint(spark, small_corpus, tmp_path):
    """A checkpoint whose state lacks ``frontier_admitted`` was written
    by an engine that filtered at pop time, one whose frontier lacks
    ``priority`` by an engine that kept the unpacked priority triple,
    one whose frontier lacks ``seq_bucket`` by an engine that left it
    out of throttled frontiers, and one whose frontier lacks the
    ``deferred`` mark or whose state lacks ``frontier_counts`` by an
    engine that throttled at pop time, and one recorded with another
    host shard count, whose pages' ``host_shard`` values would mix two
    counts: resuming any of them is refused."""
    import glob
    import json
    import os

    import pyarrow.parquet as pq

    from wormpy_spark.sources.catalog import SnapshotCatalog

    tables = corpus_to_spark(spark, small_corpus)
    ckpt = str(tmp_path / "ckpt")
    cfg = dict(RESUME_BASE, budget=50, checkpoint_dir=ckpt)
    run_crawl(spark, tables["web"], CrawlConfig(**cfg, max_rounds=1),
              sitemaps=tables["sitemaps"])
    catalog = SnapshotCatalog(ckpt)
    manifest = catalog.read_manifest()
    assert manifest["state"].pop("frontier_admitted") is True
    with open(catalog._manifest_path(), "w") as f:
        json.dump(manifest, f)
    with pytest.raises(ValueError, match="admission"):
        run_crawl(spark, tables["web"], CrawlConfig(**cfg, resume=True),
                  sitemaps=tables["sitemaps"])

    manifest["state"]["frontier_admitted"] = True
    with open(catalog._manifest_path(), "w") as f:
        json.dump(manifest, f)
    counts = manifest["state"].pop("frontier_counts")
    with open(catalog._manifest_path(), "w") as f:
        json.dump(manifest, f)
    with pytest.raises(ValueError, match="frontier_counts"):
        run_crawl(spark, tables["web"], CrawlConfig(**cfg, resume=True),
                  sitemaps=tables["sitemaps"])

    manifest["state"]["frontier_counts"] = counts
    with open(catalog._manifest_path(), "w") as f:
        json.dump(manifest, f)
    parts = glob.glob(os.path.join(manifest["tables"]["frontier"], "*.parquet"))
    assert parts
    originals = {part: pq.read_table(part) for part in parts}
    for column in ("priority", "seq_bucket", "deferred"):
        for part, table in originals.items():
            pq.write_table(table.drop([column]), part)
        with pytest.raises(ValueError, match=column):
            run_crawl(spark, tables["web"], CrawlConfig(**cfg, resume=True),
                      sitemaps=tables["sitemaps"])

    for part, table in originals.items():
        pq.write_table(table, part)
    manifest["state"]["n_host_shards"] = 32
    with open(catalog._manifest_path(), "w") as f:
        json.dump(manifest, f)
    with pytest.raises(ValueError, match="n_host_shards=32"):
        run_crawl(spark, tables["web"], CrawlConfig(**cfg, resume=True),
                  sitemaps=tables["sitemaps"])


def test_prepared_compressed_web_parity(spark, small_corpus):
    """prepare_fetch_table(compress_bodies=True) stores bodies
    zlib-compressed in the pinned table; the fetch kernel inflates them
    transparently — every page payload must equal the raw-web crawl's
    byte for byte."""
    from wormpy_spark.plans.crawl import prepare_fetch_table

    tables = corpus_to_spark(spark, small_corpus)
    cfg = CrawlConfig(base_url="https://host0.test", budget=50, politeness_seed=7)
    raw = run_crawl(spark, tables["web"], cfg, sitemaps=tables["sitemaps"])
    prep = prepare_fetch_table(spark, tables["web"])
    assert "body_z" in prep.columns and "body" not in prep.columns
    comp = run_crawl(spark, prep, cfg, sitemaps=tables["sitemaps"])
    raw_pages = [r.asDict(recursive=True) for r in raw.pages.orderBy("seq").collect()]
    comp_pages = [r.asDict(recursive=True) for r in comp.pages.orderBy("seq").collect()]
    assert raw_pages == comp_pages and len(raw_pages) > 10
    prep.unpersist()


def test_writer_columns_match_read_schemas(spark, small_corpus, monkeypatch):
    """The crawl re-reads its own snapshots with explicit schemas
    (PAGES_SCHEMA, FRONTIER_SCHEMA_V2), and an explicit parquet read
    nulls a missing column and drops an extra one without error. Pin
    every writer to those schemas so drift fails here: the Spark
    round's pages and frontier writes (with and without a per-host
    throttle: one column set) and fastround's pyarrow writers."""
    from pyspark.sql.pandas.types import from_arrow_schema

    from wormpy_spark.operators.fetch import PAGES_SCHEMA
    from wormpy_spark.operators.frontier import FRONTIER_SCHEMA_V2
    from wormpy_spark.plans.fastround import (
        FRONTIER_ARROW_SCHEMA,
        PAGES_ARROW_SCHEMA,
    )
    from wormpy_spark.sources.catalog import SnapshotCatalog

    pages_schema = spark.createDataFrame([], PAGES_SCHEMA).schema
    frontier_schema = spark.createDataFrame([], FRONTIER_SCHEMA_V2).schema
    frontier_cols = frontier_schema.names

    written: dict[str, list[list[str]]] = {"pages": [], "frontier": []}
    stock_write = SnapshotCatalog.write_table

    def recording_write(self, name, round_id, df):
        written.setdefault(name, []).append(df.columns)
        return stock_write(self, name, round_id, df)

    monkeypatch.setattr(SnapshotCatalog, "write_table", recording_write)
    tables = corpus_to_spark(spark, small_corpus)
    base_cfg = dict(base_url="https://host0.test", budget=50, politeness_seed=7,
                    fast_round_max=0)
    run_crawl(spark, tables["web"], CrawlConfig(**base_cfg),
              sitemaps=tables["sitemaps"])
    run_crawl(spark, tables["web"],
              CrawlConfig(**base_cfg, max_per_host_per_round=3),
              sitemaps=tables["sitemaps"])

    assert written["pages"]
    assert all(cols == pages_schema.names for cols in written["pages"])
    assert written["frontier"]
    assert all(cols == frontier_cols for cols in written["frontier"])

    assert from_arrow_schema(PAGES_ARROW_SCHEMA) == pages_schema
    assert from_arrow_schema(FRONTIER_ARROW_SCHEMA) == frontier_schema


def test_body_codec_is_zlib_level1():
    """The pinned fetch table's body bytes are zlib level 1 — the same
    bytes prepare_fetch_table has always cached — and round-trip."""
    import zlib

    from wormpy_spark.operators.fetch import deflate_body, inflate_body

    body = b"<html><body>" + b"wormpy " * 300 + b"</body></html>"
    assert deflate_body(body) == zlib.compress(body, 1)
    assert deflate_body(bytearray(body)) == zlib.compress(body, 1)
    assert inflate_body(deflate_body(body)) == body
    assert deflate_body(None) is None and inflate_body(None) is None


def _outputs(res):
    """(order, seen, pages, host_state) of one crawl result."""
    return (
        [(r["seq"], r["url_norm"]) for r in res.order.collect()],
        sorted(r["url_norm"] for r in res.seen.collect()),
        {r["seq"]: r.asDict(recursive=True) for r in res.pages.collect()},
        {
            r["host"]: (r["next_ix"], round(r["clock_s"], 6), r["attempts"])
            for r in res.host_state.collect()
        },
    )


RESUME_BASE = dict(base_url="https://host0.test", politeness_seed=7)


@pytest.fixture(scope="module")
def uninterrupted(spark, small_corpus):
    """Uninterrupted crawls shared by the resume cases, keyed on
    (base, budget, per-host throttle): every crawl path is output-identical,
    so fast_round_max does not change the reference. The web table is
    prepared once (prepare_fetch_table) for every crawl of the cases."""
    from wormpy_spark.plans.crawl import prepare_fetch_table

    tables = corpus_to_spark(spark, small_corpus)
    tables["web"] = prepare_fetch_table(spark, tables["web"])
    refs = {}

    def get(base_url, budget, throttle):
        if (base_url, budget, throttle) not in refs:
            res = run_crawl(
                spark, tables["web"],
                CrawlConfig(**{**RESUME_BASE, "base_url": base_url},
                            budget=budget, max_per_host_per_round=throttle),
                sitemaps=tables["sitemaps"],
            )
            refs[base_url, budget, throttle] = (len(res.metrics_rows), _outputs(res))
        return refs[base_url, budget, throttle]

    yield tables, get
    tables["web"].unpersist()


@pytest.mark.parametrize(
    "cfg",
    [
        # two fast rounds, then the throttled frontier hands over to
        # Spark rounds, whose max_rounds stops carry deferred rows that
        # cannot be rebuilt from pages
        HANDOVER,
        dict(budget=50, fast_round_max=0),  # Spark rounds only
        dict(budget=12, max_per_host_per_round=3),  # fast rounds only
        # probe semi-join at admission, published bucket counts in
        # every later round
        dict(budget=50, fast_round_max=0, PROBE_BROADCAST_MAX=0),
    ],
    ids=["handover", "spark", "throttled", "probe-join"],
)
def test_resume_at_every_round_boundary(spark, uninterrupted, tmp_path,
                                        monkeypatch, cfg):
    """Stop after each committed round k (max_rounds=k), then resume:
    the result must equal the uninterrupted crawl in order, seen set,
    every page row and host_state. A resumed round never re-checks its
    frontier against seen, so this is the evidence that admission alone
    keeps seen exact across a restart."""
    tables, get = uninterrupted
    cfg = {**RESUME_BASE, **_probe_cap(cfg, monkeypatch)}
    n_rounds, ref = get(
        cfg["base_url"], cfg["budget"], cfg.get("max_per_host_per_round")
    )
    assert n_rounds > 1
    for k in range(1, n_rounds):
        ckpt = str(tmp_path / f"k{k}")
        first = run_crawl(
            spark, tables["web"],
            CrawlConfig(**cfg, checkpoint_dir=ckpt, max_rounds=k),
            sitemaps=tables["sitemaps"],
        )
        assert first.rounds == k
        resumed = run_crawl(
            spark, tables["web"],
            CrawlConfig(**cfg, checkpoint_dir=ckpt, resume=True),
            sitemaps=tables["sitemaps"],
        )
        assert _outputs(resumed) == ref, f"resume after round {k} diverged"
