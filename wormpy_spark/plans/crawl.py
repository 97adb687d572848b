"""The BSP crawl driver loop (T4; SURVEY.md §3.2 engine lifecycle).

Every frontier is written ADMITTED, once. The seeds are admitted on
the driver before round 0 of either kind (fastround's ``admit_seeds``:
scope, first occurrence, the probe and robots over a handful of rows;
they meet an empty seen). Each Spark round's expansions and the resume
rebuild go through one step, ``_admit``:

    candidates (in scope, P4: expand_frontier / the fetch kernel)
             → first-occurrence dedup by priority (J2 equivalence)
             → host, derived once (v2 frontier)
             → ANTI JOIN seen (J1)
             → HEAD-model probe dropping suspicious image/* (P5/P6)
             → [robots filter — north_rule option]
             → seq_bucket: the range bucket of parent_seq over the
               parents' seq range
             → deferred: the per-host throttle's mark on rows past a
               host's first k in priority order (false without one)
             → write, publishing the unmarked rows' per-bucket counts
               (also kept in the manifest state for resume)

Each round then pops its frontier as-is (one Catalyst-optimizable batch
job over the whole frontier):

    frontier → unmarked rows (the marked ones are re-admitted with the
               next round's expansions)
             → global seq in priority order (O1-O4; the packed
               (parent_seq, sibling_rank) of operators/frontier.py):
               row_number within seq_bucket + offsets from the
               published counts (no job of its own)
             → budget cut seq < B (P9/O7)
             → GET-model join vs web + one mapInArrow extract pass
             → expansions (J4/O4) → admission → next frontier
             → snapshot commit {pages, frontier} + manifest state (T6 —
               resumable, per-partition lineage); seen is derived from
               the pages snapshots, and the politeness clocks (T1/T2)
               once, after the last round

Ordering-parity proof obligations (vs the sequential reference; tested
against the golden oracle in tests/test_golden.py):
- round-r frontier rows all precede round-r expansions in FIFO order
  (tail appends) ⇒ BSP rounds preserve pop order;
- within-round duplicates: first occurrence by priority wins — later
  dupes are pop-skipped by the sequential visited check (J1) and
  contribute nothing;
- selenium-requeue (T3) retries in place and emits no row on failure ⇒
  the (seq, url) sequence is identical to the no-failure sequence; the
  engine therefore retries in-round and only accounts the extra
  politeness draws;
- expansions admitted against end-of-round seen ≡ admission-time seen
  (a dupe admitted mid-round is pop-skipped later either way);
- J1 runs once per URL, at admission: every frontier row was anti-
  joined against seen when its frontier was written (``_admit``, or
  fastround's driver seen_set; the seeds, admitted on the driver, meet
  an empty seen), and seen has grown since only by rows fetched from
  EARLIER frontiers, so a round never re-checks its own frontier. Probe-skipped and robots-disallowed
  URLs never get a seq on either side, so filtering them at admission
  instead of pop changes no output.

Scale posture: frontier/seen/pages are parquet snapshots (Iceberg when
the jar is present — sources.catalog shim), re-read each round, so
lineage never grows; the global sequence is a per-seq_bucket rank
plus bucket offsets (no one-task sort), driver arithmetic over the
counts every frontier write publishes; the seen anti-join
broadcasts the seen keys while they are small and shuffles above
operators.seen.BROADCAST_SEEN_MAX; AQE splits skewed joins at
runtime.
"""

from __future__ import annotations

import tempfile
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.urlnorm import domain_col, normalize_url, suspicious_pred
from ..operators.fetch import (
    HOST_SHARDS,
    PAGES_SCHEMA,
    PAGES_SCHEMA_EXPAND,
    deflate_bodies,
    host_shard_col,
    make_fetch_extract,
)
from ..operators.frontier import (
    FRONTIER_SCHEMA_V2,
    SEQ_LIMIT,
    SIBLING_LIMIT,
    assign_global_seq,
    dedup_within_round,
    expand_frontier,
    priority,
    seq_bucket_col,
)
from ..operators.politeness import SCHEDULE_SCHEMA, make_schedule_fn
from ..operators.robots import RobotsCache, robots_allows_udf
from ..operators.seen import anti_join_seen
from ..sources.catalog import SnapshotCatalog
from ..sources import sitemap
from .fastround import (
    admit_seeds,
    frontier_table,
    run_fast_round,
    write_frontier_parquet,
    write_pages_parquet,
)

# max suspicious-image rows collectable for the HEAD-probe skip set;
# above it admission runs the probe semi-join instead. Read at call
# time, so a test can set 0 to force the join path.
PROBE_BROADCAST_MAX = 2_000_000


@dataclass
class CrawlConfig:
    base_url: str
    budget: int = 100           # MAX_URLS_TO_SCRAPE (config.py:18)
    discovery: bool = True
    politeness_seed: int = 42
    respect_robots: bool = False  # north_rule addition; OFF for golden parity
    checkpoint_dir: str | None = None
    resume: bool = False
    max_rounds: int = 256
    # production politeness throttle: at most k fetches per host per
    # round; admission marks the excess rows ``deferred`` and they wait
    # for the next round with their priority preserved (not dropped),
    # re-admitted with its expansions. None = reference semantics
    # (golden runs) — the reference rate-limits wall-clock, never
    # reorders, so the throttle is opt-in (SURVEY.md §2.7-T1).
    max_per_host_per_round: int | None = None
    # frontiers at or below this row count run the whole round driver-
    # side (plans/fastround.py): one Spark job, not a Spark round's
    # several, for the tiny head/tail rounds every crawl has. 0
    # disables (parity tests compare paths).
    fast_round_max: int = 4096

    def __post_init__(self):
        # a zero throttle defers every row and an empty round ends the
        # crawl, so a bad value would end it silently after round 0
        if self.max_per_host_per_round is not None and self.max_per_host_per_round < 1:
            raise ValueError("max_per_host_per_round must be at least 1 (or None)")
        if not 0 <= self.budget < SEQ_LIMIT:
            # seq < budget must fit the frontier's packed priority
            raise ValueError(f"budget must be in [0, {SEQ_LIMIT})")
        if self.fast_round_max < 0:
            raise ValueError("fast_round_max must be at least 0")
        if self.max_rounds < 1:
            raise ValueError("max_rounds must be at least 1")


@dataclass
class CrawlResult:
    pages: DataFrame
    order: DataFrame        # (seq, url_norm, round)
    seen: DataFrame         # (url_hash, url_norm)
    metrics: DataFrame      # one row per round
    host_state: DataFrame   # politeness clocks
    sitemap_urls: list[str] = field(default_factory=list)
    rounds: int = 0
    checkpoint_dir: str | None = None
    processed: int = 0
    metrics_rows: list[dict] = field(default_factory=list)


def _empty(spark: SparkSession, schema: str) -> DataFrame:
    return spark.createDataFrame([], schema)


def prepare_fetch_table(
    spark: SparkSession, web: DataFrame, compress_bodies: bool = True
) -> DataFrame:
    """One-time fetch-table preparation: hash-partition the web table
    on the join key and pin it, so every crawl round joins against
    co-located partitions with zero web-side exchange. On a cluster
    this is writing the web snapshot as a bucketed/sorted Iceberg
    table — data loading, done once, amortized across every crawl that
    follows (and excluded from steady-state throughput the same way
    the table write itself is). The returned handle is marked so
    run_crawl does not prepare it again; run_crawl prepares an
    unprepared web itself (``compress_bodies=False``) and unpersists it
    after the crawl.

    ``compress_bodies``: store page bodies zlib-compressed in the
    pinned table (like the encoded column chunks of a real columnar
    table). Body bytes are the dominant traffic of every fetch round —
    cache scan, Arrow transfer to the Python workers — and at high
    core counts that traffic is bound by the SHARED memory bus, the
    one resource local-mode scaling cannot multiply (a cluster adds a
    bus per executor). Compressing trades ~5x fewer bytes on the bus
    for a cheap per-batch zlib inflate in the (per-core, scalable)
    Python workers; the fetch kernel decompresses transparently
    (operators/fetch.py) and every downstream byte is identical —
    parity-tested against the uncompressed path."""
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    if compress_bodies:
        deflate = F.pandas_udf(deflate_bodies, "binary")
        for col in ("body", "dynamic_body"):
            if col in web.columns:
                web = web.withColumn(f"{col}_z", deflate(F.col(col))).drop(col)
    # sortWithinPartitions: hash partitioning (the join contract) is
    # preserved, and the columnar cache's per-batch min/max statistics
    # become range-tight — a literal IN filter over the cache (the
    # fastround key lookup) then SKIPS whole batches without decoding
    # their body columns, instead of decoding the entire cached table
    # to select a few hundred rows.
    prepared = (
        web.repartition(n_part, "url_norm")
        .sortWithinPartitions("url_norm")
        .persist()
    )
    prepared.count()  # materialize the layout now
    prepared._wormpy_prepared = True
    # The HEAD-probe skip set (suspicious URLs whose content type is
    # image/*) is a pure function of the web snapshot — compute it
    # once here, alongside the layout, and attach it to the handle so
    # every crawl against this snapshot reuses it instead of paying a
    # cold scan + driver collect per crawl (~3-5 s on a 500k-row
    # snapshot). On a cluster this is a sidecar of the bucketed-table
    # write.
    skip_rows = (
        prepared.filter(suspicious_pred(F.col("url_norm")))
        .filter(F.col("content_type").startswith("image/"))
        .select("url_norm")
        .limit(PROBE_BROADCAST_MAX + 1)
        .collect()
    )
    if len(skip_rows) <= PROBE_BROADCAST_MAX:
        # broadcast once here too: re-broadcasting ~100k strings per
        # crawl costs ~0.5 s of driver pickling that every crawl
        # against this snapshot would repay for no reason. The size is
        # recorded so run_crawl honors a cap lowered after preparation
        # (a crawl under a tighter cap must fall back to the semi-join
        # scale path, not silently get a bigger broadcast).
        prepared._wormpy_probe_skip = spark.sparkContext.broadcast(
            frozenset(r["url_norm"] for r in skip_rows)
        )
        prepared._wormpy_probe_skip_size = len(skip_rows)
    del skip_rows
    return prepared


def run_crawl(
    spark: SparkSession,
    web: DataFrame,
    config: CrawlConfig,
    sitemaps: DataFrame | None = None,
    robots: DataFrame | None = None,
) -> CrawlResult:
    base = normalize_url(config.base_url)  # main.py:111
    budget = config.budget if config.discovery else 1
    catalog = SnapshotCatalog(
        config.checkpoint_dir or tempfile.mkdtemp(prefix="wormpy_spark_ckpt_")
    )

    robots_filter = None
    robots_cache_obj = None
    if config.respect_robots and robots is not None:
        cache = RobotsCache.from_fixture(robots.toPandas())
        robots_cache_obj = cache
        robots_filter = robots_allows_udf(spark.sparkContext.broadcast(cache))

    # fetch side prepared ONCE: hash-partitioned on the join key and
    # persisted, so every round's fetch join exchanges only the (tiny)
    # due side — page BODIES cross a shuffle exactly once per crawl,
    # not once per round (the dominant memory-bandwidth cost measured
    # in round-1 event logs). Callers may prepare it once up front with
    # prepare_fetch_table() and reuse it across crawls; an unprepared
    # web is prepared here and released after the crawl.
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    prepared = getattr(web, "_wormpy_prepared", False)
    if not prepared:
        web = prepare_fetch_table(spark, web, compress_bodies=False)
    web_fetch = web.drop("url", "host", "links")

    # narrow projection used by the HEAD-model probe (column pruning:
    # the probe scan reads only url_norm + content_type)
    probe = web.select("url_norm", F.col("content_type").alias("_probe_ct"))

    # HEAD-probe fast path: suspicious URLs (media extensions / query
    # strings) are the only ones that consult a content type, and only
    # "image/*" skips (P5/P6). prepare_fetch_table collected the
    # suspicious slice's skip SET once and broadcast it; used only when
    # it fits this crawl's cap (a cap lowered after preparation must
    # fall back to the per-round semi-join scale path in ``_admit``).
    skip_size = getattr(web, "_wormpy_probe_skip_size", None)
    probe_skip_bc = None
    if PROBE_BROADCAST_MAX > 0 and skip_size is not None and skip_size <= PROBE_BROADCAST_MAX:
        probe_skip_bc = web._wormpy_probe_skip

    sitemap_urls: list[str] = []
    metrics_rows: list[dict] = []

    def read_pages(rounds_list: list[int]) -> DataFrame:
        """The pages snapshots of ``rounds_list``, read with their known
        schema (no footer/schema-inference job)."""
        if not rounds_list:
            return _empty(spark, PAGES_SCHEMA)
        return spark.read.schema(PAGES_SCHEMA).parquet(
            *[catalog.table_path("pages", rr) for rr in sorted(set(rounds_list))]
        )

    def seen_from_pages(rounds_list: list[int]) -> DataFrame:
        """The seen set IS the processed pages' keys (J3): read them
        column-pruned from the per-round pages snapshots instead of
        rewriting an ever-growing seen table every round (O(total)
        write per round → O(delta))."""
        return read_pages(rounds_list).select(
            F.xxhash64("url_norm").alias("url_hash"), "url_norm"
        )

    # loop-invariant expression trees, built once: Column objects are
    # immutable and reusable, and rebuilding the per-bucket observation
    # metrics costs a few hundred py4j round-trips per round otherwise.
    # They count the rows a round pops: the unmarked ones
    bucket_metrics = [
        F.sum(((F.col("seq_bucket") == i) & ~F.col("deferred")).cast("long"))
        .alias(f"b{i}")
        for i in range(n_part)
    ]
    defer_mark = F.lit(False) if config.max_per_host_per_round is None else (
        F.row_number().over(Window.partitionBy("host").orderBy("priority"))
        > config.max_per_host_per_round
    )

    def _admit(
        cand: DataFrame,
        seen: DataFrame,
        seen_count: int,
        probe_filter: bool,
        parents: tuple[int, int],
    ) -> DataFrame:
        """The one admission every expansion passes, once, so a round
        pops its frontier as-is (module docstring); the seeds are
        admitted on the driver instead (``admit_seeds``). ``cand``:
        ``(url_norm, priority)`` rows, in scope (P4) and canonical.

        ``probe_filter``: apply the P5/P6 probe here, as a semi-join
        against the probe table. Off only where the fetch kernel already
        dropped the probe-skip URLs from ``discovered_norm`` (expansions
        under the skip-set fast path); on for the resume rebuild.

        ``parents``: the seq range [lo, hi) of the candidates' parents,
        bucketed into ``seq_bucket`` (operators/frontier.py): a
        throttle's deferred rows fall below ``lo`` and clamp to bucket
        0, so the buckets follow the whole priority order.
        ``deferred`` marks the rows past a host's first k in priority
        order: the rows a pop-time window over this frontier would defer."""
        f = dedup_within_round(cand)                                # J2
        f = (
            f.withColumn("host", domain_col(F.col("url_norm")))
            .withColumn("url_hash", F.xxhash64(F.col("url_norm")))  # J1 key
        )
        f = anti_join_seen(f, seen, seen_count)                     # J1
        if probe_filter:
            # P5/P6: semi-prune the probe table by the (small)
            # suspicious key set first — otherwise the planner
            # broadcasts the full probe projection
            susp = f.filter(suspicious_pred(F.col("url_norm"))).select("url_norm")
            skipped = probe.filter(F.col("_probe_ct").startswith("image/")).join(
                F.broadcast(susp), on="url_norm", how="left_semi"
            )
            f = f.join(
                F.broadcast(skipped.select("url_norm")), on="url_norm", how="left_anti"
            )
        if robots_filter is not None:
            f = f.filter(robots_filter(F.col("url_norm")))
        return f.select(
            "url_norm", "priority", "host",
            seq_bucket_col(*parents, n_part).alias("seq_bucket"),
            defer_mark.alias("deferred"),
        )

    def write_frontier(r: int, frontier: DataFrame) -> tuple[DataFrame, str, dict[int, int]]:
        """Write round r's admitted frontier. Returns it re-read with its
        known schema, its path, and its unmarked rows per seq_bucket,
        observed by the write job itself."""
        obs = Observation()
        path = catalog.write_table("frontier", r, frontier.observe(obs, *bucket_metrics))
        counts_row = obs.get
        counts = {i: int(counts_row[f"b{i}"] or 0) for i in range(n_part)}
        return spark.read.schema(FRONTIER_SCHEMA_V2).parquet(path), path, counts

    def fast_round(rows: list[tuple] | None) -> bool:
        """Whether a round over ``rows`` runs on the driver fast path."""
        return (
            rows is not None
            and config.fast_round_max > 0
            and probe_skip_bc is not None
            and len(rows) <= config.fast_round_max
        )

    # the current frontier's unmarked rows per seq_bucket, published by
    # the write that made it: the round's seq runs no job of its own
    counts: dict[int, int] = {}
    frontier: DataFrame | None = None

    pages_rounds: list[int] = catalog.rounds() if config.resume else []
    seen_cache = None  # persisted incremental seen set (guide §2.4: the
    # admission anti-join's seen side was re-derived from EVERY pages
    # snapshot every round — an O(total-seen) parquet re-read + re-hash
    # per round; the cache makes it O(delta): cached seen ∪ this
    # round's snapshot)
    pages_r = seen_next = None  # the in-flight round's caches

    def commit(r: int, tables: dict[str, str], **extra) -> None:
        """Publish round r's snapshots with the resume state."""
        catalog.commit(r, tables, state={
            "base": base,
            "processed": processed,
            "round": r,
            "budget": budget,
            "sitemap_urls": sitemap_urls,
            "metrics_rows": metrics_rows,
            "n_host_shards": HOST_SHARDS,
            "frontier_admitted": True,
            **extra,
        })

    sc = spark.sparkContext
    # the rounds label their jobs; the caller's next jobs keep its own
    caller_desc = sc.getLocalProperty("spark.job.description")
    try:
        if config.resume and catalog.latest_round() is not None:
            state = catalog.state()
            assert state["base"] == base, "resume with a different base URL"
            ck_shards = state.get("n_host_shards")
            if ck_shards is not None and ck_shards != HOST_SHARDS:
                # pages written before the resume carry host_shard under the
                # old count; mixing counts would give one host two shard
                # ids — refuse rather than corrupt
                raise ValueError(
                    f"the checkpoint was written with n_host_shards={ck_shards}, "
                    f"but this engine shards hosts by {HOST_SHARDS}; start the "
                    "crawl afresh"
                )
            if not state.get("frontier_admitted"):
                # older writers left the probe/robots filters and J2 to pop
                # time, and wrote v1 frontiers; no round re-applies them now
                raise ValueError(
                    "the checkpoint's frontier was not admitted by this "
                    "engine's admission step; start the crawl afresh"
                )
            start_round = state["round"] + 1
            processed = state["processed"]
            sitemap_urls = state.get("sitemap_urls", [])
            metrics_rows = state.get("metrics_rows", [])
            pending_round = state.get("expansion_pending")
            if pending_round is None:
                frontier = catalog.read(spark, "frontier")
                # older writers packed no priority, left seq_bucket out of
                # throttled frontiers, and throttled at pop time without
                # publishing counts
                missing = [c for c in ("priority", "seq_bucket", "deferred") if c not in frontier.columns]
                if "frontier_counts" not in state:
                    missing.append("frontier_counts")
                if missing:
                    raise ValueError(
                        f"the checkpoint lacks {', '.join(missing)}; start the crawl afresh"
                    )
                # JSON keys are strings
                counts = {int(b): n for b, n in state["frontier_counts"].items()}
            elif processed < budget:
                # the final committed round deferred its expansion (its
                # frontier is read only by a resume like this one, with
                # budget left): rebuild it deterministically from the committed
                # pages snapshot — the same expansion, admission and write
                # the eager path would have run. Snapshot pages carry no
                # kernel-filtered discovered_norm, so the probe applies.
                frontier, _, counts = write_frontier(pending_round, _admit(
                    expand_frontier(catalog.read(spark, "pages"), base),
                    seen_from_pages(catalog.rounds()), processed,
                    probe_filter=True,
                    parents=(processed - metrics_rows[-1]["fetched"], processed),
                ))
            # resume always re-enters on the Spark path (frontier/seen are
            # snapshot-resident); tiny post-resume rounds still work, they
            # just do not take the driver shortcut
            frontier_rows = None
            seen_set = None
        else:
            start_round = 0
            processed = 0
            seed_rows = [(base, priority(-1, 0))]
            if config.discovery and sitemaps is not None:
                sitemap_urls = sitemap.sitemap_urls(sitemaps, base)
                if len(sitemap_urls) + 1 >= SIBLING_LIMIT:
                    raise ValueError(
                        f"{len(sitemap_urls) + 1} seeds; a crawl may seed at "
                        f"most {SIBLING_LIMIT - 1}"
                    )
                # sorted(set(...)) seeding order (sitemap_parser.py:22,
                # main.py:52-58): base first, then sitemap URLs by rank.
                # Seeds are the only rows canonicalized and scope-filtered
                # (P4) here (driver-side, handful of rows); expansions
                # arrive pre-canonicalized and in scope.
                seed_rows += [
                    (normalize_url(u), priority(-1, i + 1))
                    for i, u in enumerate(sitemap_urls)
                ]
                seed_rows = [row for row in seed_rows if row[0].startswith(base)]
            # admitted once, here, whatever kind round 0 is
            frontier_rows = admit_seeds(seed_rows, web, robots_cache_obj)
            seen_set = set()
            if not fast_round(frontier_rows):
                # parent_seq -1 puts every seed in bucket 0 for any parents range
                table, counts = frontier_table(
                    frontier_rows, (0, 1), n_part, config.max_per_host_per_round,
                )
                frontier = spark.createDataFrame(table, FRONTIER_SCHEMA_V2)

        r = start_round
        while r < config.max_rounds and processed < budget:
            t0 = time.time()
            sc.setJobDescription(f"crawl r{r}")

            # ---- driver fast path: whole tiny round in Python, one Spark
            # job (the web key lookup) — see plans/fastround.py ----
            if fast_round(frontier_rows):
                sc.setJobDescription(f"crawl r{r}: fast round")
                fr = run_fast_round(
                    r, frontier_rows, seen_set, processed, budget, base,
                    config, web_fetch, robots_cache_obj, probe_skip_bc,
                )
                if fr.n_eligible == 0:
                    break
                pages_r_path = catalog.table_path("pages", r)
                write_pages_parquet(pages_r_path, fr.pages)
                frontier_path = catalog.table_path("frontier", r)
                table, counts = frontier_table(
                    fr.frontier_next, (processed, processed + fr.due_count),
                    n_part, config.max_per_host_per_round,
                )
                write_frontier_parquet(frontier_path, table)
                pages_rounds.append(r)
                processed += fr.due_count
                metrics_rows.append(
                    {
                        "round": r,
                        "frontier_size": fr.n_eligible,
                        "fetched": fr.due_count,
                        "errors": fr.n_errors,
                        "processed_total": processed,
                        "wall_s": time.time() - t0,
                        "seq_s": fr.seq_s,
                        "fetch_s": fr.fetch_s,
                        "expand_s": fr.expand_s,
                    }
                )
                commit(r, {"pages": pages_r_path, "frontier": frontier_path},
                       frontier_counts=counts)
                if len(fr.frontier_next) <= config.fast_round_max:
                    frontier_rows = fr.frontier_next
                else:
                    # hand over to the Spark path: frontier + seen continue
                    # from the snapshots just written
                    frontier_rows = None
                    seen_set = None
                    frontier = spark.read.schema(FRONTIER_SCHEMA_V2).parquet(frontier_path)
                r += 1
                continue
            frontier_rows = None
            seen_set = None

            # admitted and marked when written (_admit): pop the unmarked
            # rows as-is; the marked ones join the next admission's candidates
            eligible = frontier.filter(~F.col("deferred"))
            deferred = None
            if config.max_per_host_per_round is not None:
                deferred = frontier.filter(F.col("deferred")).select("url_norm", "priority")
            seqd, n_eligible = assign_global_seq(eligible, processed, counts)
            t_seq = time.time()
            if n_eligible == 0:
                break
            due = seqd.filter(F.col("seq") < budget).withColumn(
                "round", F.lit(r).cast("int")
            )
            due_count = min(n_eligible, budget - processed)

            # only the columns the fetch kernel consumes cross the exchange
            # and the Arrow boundary (mapInPandas ships every input column):
            # priority/seq_bucket are dead past this point, and the pages'
            # host_shard lineage is derived here, over the due rows only
            due = due.select("url_norm", "seq", "round", "host", host_shard_col())

            # GET-model fetch join + one Arrow extraction pass (S4-S7, F1-F3).
            # Strategy by round size:
            # - small rounds: broadcast-semi prune — broadcast the due KEYS
            #   (tiny) to filter the cached web partitions, so page bodies
            #   are never broadcast for rows not fetched this round (the
            #   runtime-filter pattern; at cluster scale a bloom pushdown
            #   into the bucketed web scan plays this role);
            # - big rounds: co-partitioned hash join against the persisted
            #   web cache — only the due keys are exchanged, the cached
            #   body partitions stream in place.
            if due_count <= 50_000:
                web_small = web_fetch.join(
                    F.broadcast(due.select("url_norm")), on="url_norm", how="left_semi"
                )
                joined = due.join(web_small, on="url_norm", how="left")
            else:
                # hint on the DUE side => ShuffledHashJoin BuildLeft: the
                # hash relation is built from this round's (small) due keys
                # and the persisted web partitions STREAM through the probe.
                # The previous hint on the web side made the WEB the build
                # side (LeftOuter defaults to BuildRight) — a multi-GB hash
                # relation of page bodies rebuilt per round, with the GC to
                # match (guide §3.1: check the build side in the plan).
                joined = due.hint("shuffle_hash").join(web_fetch, on="url_norm", how="left")
            obs = Observation(f"round_{r}")
            # scope_base: the kernel also emits the pre-canonicalized
            # expansion column (discovered_norm) so the expansion below is
            # a shuffle-free posexplode — see operators/fetch.py
            pages_out = joined.mapInArrow(
                make_fetch_extract(
                    config.discovery, scope_base=base,
                    probe_skip_bc=probe_skip_bc,
                ),
                PAGES_SCHEMA_EXPAND,
            ).observe(obs, F.sum(F.when(F.col("error").isNotNull(), 1).otherwise(0)).alias("errors"))
            # persist BEFORE the (synchronous) snapshot write: the write job
            # materializes the cache, and the expansion below reads the
            # CACHED pages instead of re-reading the snapshot files —
            # removes the per-round read-back listing job + re-scan.
            # (An async write overlapping the expansion was tried and
            # REVERTED: both jobs race to materialize the same cache, and
            # the loser's tasks occupy task slots blocked on per-partition
            # cache locks, starving the winner — measured net-slower at
            # every parallelism level.)
            pages_r = pages_out.persist()
            # snapshots keep the exact PAGES_SCHEMA contract (sinks, resume,
            # fastround parity): the expansion column lives only in the
            # cached frame the expansion below consumes
            sc.setJobDescription(f"crawl r{r}: fetch+extract+pages-write")
            pages_r_path = catalog.write_table(
                "pages", r, pages_r.drop("discovered_norm")
            )
            n_errors = int(obs.get["errors"] or 0)  # free: rides the write job
            t_fetch = time.time()

            # seen += processed rows (J3; error rows included, R2/R3) —
            # derived from the pages snapshots, no separate table write.
            # Incremental: cached seen-so-far ∪ THIS round's snapshot only;
            # reading the delta from the just-written snapshot (not the
            # pages cache) keeps the lineage rooted in parquet, so a cache
            # eviction can never re-trigger the fetch kernel.
            pages_rounds.append(r)
            if seen_cache is not None:
                seen_next = seen_cache.unionByName(seen_from_pages([r]))
            else:
                # first Spark round (after fastround/resume too): fold every
                # snapshot in once; every later round unions only its delta
                seen_next = seen_from_pages(pages_rounds)
            processed_next = processed + due_count
            # After the crawl's LAST round (budget exhausted or max_rounds
            # reached) the expansion would build a frontier no round ever
            # consumes. Defer it: commit the pages snapshot with an
            # expansion_pending flag; a resume rebuilds the frontier
            # deterministically from that snapshot (same expansion, same
            # admission), so resumability is unchanged while every
            # non-resumed crawl saves a full expansion's work. Per-host
            # deferred rows exist only in the next frontier and cannot be
            # rebuilt from pages, so a max_rounds stop that has them still
            # writes it.
            final_round = processed_next >= budget or (
                r + 1 >= config.max_rounds and deferred is None
            )
            if not final_round:
                # materialized by the admission job below; the previous
                # cache is released after the frontier write
                seen_next = seen_next.persist()

            # expansions → next frontier (J4/O4 → _admit). Under the
            # throttle the deferred rows join the candidates BEFORE the
            # dedup: they keep their original (earlier) priority, so the
            # frontier stays globally first-wins
            if final_round:
                frontier_path = None
            else:
                cand = expand_frontier(pages_r, base)
                if deferred is not None:
                    cand = deferred.unionByName(cand)
                sc.setJobDescription(f"crawl r{r}: expand+admit+frontier-write")
                frontier, frontier_path, counts = write_frontier(r, _admit(
                    cand, seen_next, processed_next,
                    probe_filter=probe_skip_bc is None,
                    parents=(processed, processed_next),
                ))
                # the admission job above materialized seen_next; rotate the
                # incremental cache (unpersisting earlier frees the old
                # blocks the new cache's lineage just read)
                if seen_cache is not None:
                    seen_cache.unpersist()
                seen_cache = seen_next
            pages_r.unpersist()
            t_expand = time.time()

            processed = processed_next
            metrics_rows.append(
                {
                    "round": r,
                    "frontier_size": n_eligible,
                    "fetched": due_count,
                    "errors": n_errors,
                    "processed_total": processed,
                    "wall_s": time.time() - t0,
                    # phase walls (driver-observed job boundaries)
                    "seq_s": round(t_seq - t0, 2),
                    "fetch_s": round(t_fetch - t_seq, 2),
                    "expand_s": round(t_expand - t_fetch, 2),
                }
            )
            if frontier_path is None:
                commit(r, {"pages": pages_r_path}, expansion_pending=r)
            else:
                commit(r, {"pages": pages_r_path, "frontier": frontier_path},
                       frontier_counts=counts)

            r += 1
    finally:
        sc.setJobDescription(caller_desc)
        # however the crawl ends: the results below read only snapshots
        for cached in (pages_r, seen_next, seen_cache, None if prepared else web):
            if cached is not None:
                cached.unpersist()

    # the loop may end while still in fast mode (seen_set-resident):
    # the authoritative seen set is always derivable from the pages
    # snapshots, for fast and Spark rounds alike
    seen = seen_from_pages(pages_rounds)

    # assemble results across rounds
    pages = read_pages(pages_rounds)
    order = pages.select("seq", "url_norm", "round").orderBy("seq")

    # politeness clocks (T1/T2) — derived ONCE from the pages snapshots
    # (attempts + fetch_failed_first columns): identical to per-round
    # accumulation because per-host draw indices follow the global seq,
    # and free at resume time (recomputed from the same snapshots).
    sched_in = pages.select(
        "host",
        "seq",
        F.col("attempts").cast("int").alias("draws"),
        F.when(F.col("fetch_failed_first"), 1.0).otherwise(0.0).alias("debit"),
    ).withColumn("start_ix", F.lit(0).cast("long"))
    host_state = (
        sched_in.groupBy("host")
        .applyInPandas(make_schedule_fn(config.politeness_seed), SCHEDULE_SCHEMA)
        .groupBy("host")
        .agg(
            F.max("start_ix").alias("next_ix"),
            F.sum("delay_s").alias("clock_s"),
            F.sum("draws").cast("long").alias("attempts"),
        )
    )
    metrics = (
        spark.createDataFrame(metrics_rows)
        if metrics_rows
        else _empty(
            spark,
            "round int, frontier_size long, fetched long, errors long, "
            "processed_total long, wall_s double, seq_s double, "
            "fetch_s double, expand_s double",
        )
    )
    return CrawlResult(
        pages=pages,
        order=order,
        seen=seen,
        metrics=metrics,
        host_state=host_state,
        sitemap_urls=sitemap_urls,
        rounds=r,
        checkpoint_dir=catalog.root,
        processed=processed,
        metrics_rows=metrics_rows,
    )
