"""Regression tests for the dedup/near-dup scale operators:

- MinHash-LSH must not crash on documents with <3 words (ADVICE r1:
  sequence(1, size-2) steps DOWN when size<=2 and element_at threw)
- phash band LSH must find pairs whose differing bits are SPREAD across
  bands (ADVICE r1: 4x16-bit bands only guaranteed recall for
  hamming<=3; now 8x8-bit bands cover the default max_hamming=6)
- both rungs of anti_join_seen (broadcast below BROADCAST_SEEN_MAX,
  shuffled at or above it) must plan a plain LeftAnti join and return
  the exact anti-join
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from wormpy_spark.operators.dedup import minhash_lsh_jaccard_pairs
from wormpy_spark.operators.multimodal import phash_neardup_pairs
from wormpy_spark.operators import seen as seen_mod
from wormpy_spark.operators.seen import anti_join_seen


def test_minhash_lsh_short_docs_no_crash(spark):
    base = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    docs = spark.createDataFrame(
        [
            (0, base),
            (1, base + " kilo"),          # true near-dup of 0
            (2, "two words"),              # <3 words: zero shingles
            (3, "one"),                    # 1 word
            (4, ""),                       # empty
            (5, "totally different words about oceans and forests here"),
        ],
        "doc_id long, text string",
    )
    rows = minhash_lsh_jaccard_pairs(spark, docs).collect()
    pairs = {(r["doc_a"], r["doc_b"]) for r in rows}
    assert (0, 1) in pairs
    # short docs never appear in any pair
    assert all(a not in (2, 3, 4) and b not in (2, 3, 4) for a, b in pairs)


def _brute_pairs(phashes: dict[str, int], max_h: int) -> set[tuple[str, str]]:
    ids = sorted(phashes)
    return {
        (a, b)
        for i, a in enumerate(ids)
        for b in ids[i + 1 :]
        if bin(phashes[a] ^ phashes[b]).count("1") <= max_h
    }


def test_phash_neardup_spread_bits_exact_recall(spark):
    """Pairs with differing bits spread one-per-16-bit-band (the case
    the 4-band scheme provably missed) + random controls: band LSH
    output must equal brute force exactly."""
    base = 0x5A5A_1234_ABCD_0F0F
    phashes = {
        "a0": base,
        # 4 differing bits, one in each former 16-bit band → old miss
        "a1": base ^ (1 << 3) ^ (1 << 19) ^ (1 << 35) ^ (1 << 51),
        # 6 differing bits spread across six 8-bit bands
        "a2": base ^ (1 << 1) ^ (1 << 9) ^ (1 << 17) ^ (1 << 25) ^ (1 << 33) ^ (1 << 41),
        # 7 differing bits → excluded at max_hamming=6
        "a3": base ^ 0x7F,
    }
    rng = np.random.Generator(np.random.PCG64(17))
    for i in range(40):
        phashes[f"r{i}"] = int(rng.integers(0, 2**63, dtype=np.int64))
    df = spark.createDataFrame(
        [(k, v - (1 << 64) if v >= 1 << 63 else v) for k, v in phashes.items()],
        "image_id string, phash long",
    )
    got = {
        (r["id_a"], r["id_b"])
        for r in phash_neardup_pairs(df, max_hamming=6).collect()
    }
    want = _brute_pairs(
        {k: v & ((1 << 64) - 1) for k, v in phashes.items()}, 6
    )
    assert ("a0", "a1") in got and ("a0", "a2") in got
    assert ("a0", "a3") not in got
    assert got == want

    # bench_crawl's tiny-input driver path must count exactly the
    # operator's pairs — including negative (sign-bit-set) phashes,
    # which require the 64-bit XOR mask
    from wormpy_spark.bench_crawl import neardup_count_driver

    signed = [v - (1 << 64) if v >= 1 << 63 else v for v in phashes.values()]
    assert neardup_count_driver(signed, max_hamming=6) == len(want)


def test_anti_join_seen_rungs_plan_exact_left_anti(spark, monkeypatch):
    """Below BROADCAST_SEEN_MAX the seen keys broadcast; at 0 the join
    is shuffled. Both rungs plan one LeftAnti join with no Python eval
    node and no checkpoint, and both return the exact anti-join."""
    def keyed(df):
        return df.select(
            F.xxhash64(F.col("k").cast("string")).alias("url_hash"),
            F.col("k").cast("string").alias("url_norm"),
        )

    seen = keyed(spark.range(0, 100, 2).withColumnRenamed("id", "k"))
    cand = keyed(spark.range(100).withColumnRenamed("id", "k"))

    def run():
        out = anti_join_seen(cand, seen, 50)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "LeftAnti" in plan
        assert "EvalPython" not in plan and "ExistingRDD" not in plan
        return plan, sorted(int(r["url_norm"]) for r in out.collect())

    plan, got = run()
    assert "BroadcastHashJoin" in plan
    assert got == list(range(1, 100, 2))

    monkeypatch.setattr(seen_mod, "BROADCAST_SEEN_MAX", 0)
    # the inputs are tiny: keep Spark's own size-based broadcast off so
    # the plan shows the rung anti_join_seen chose
    threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan, got = run()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
    assert "BroadcastHashJoin" not in plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
    assert got == list(range(1, 100, 2))


def test_connected_components_chain_and_clusters(spark):
    """Min-label propagation must close transitive chains (A-B, B-C,
    C-D => one cluster labeled min id) across multiple iterations, keep
    disjoint clusters separate, and be deterministic."""
    from wormpy_spark.operators.components import connected_components

    pairs = spark.createDataFrame(
        [
            # a 6-node chain (diameter 5 → several propagation rounds)
            (10, 11), (11, 12), (12, 13), (13, 14), (14, 15),
            # a triangle, listed out of order
            (22, 21), (21, 20), (22, 20),
            # an isolated pair
            (31, 30),
        ],
        "doc_a long, doc_b long",
    )
    want = {
        10: 10, 11: 10, 12: 10, 13: 10, 14: 10, 15: 10,
        20: 20, 21: 20, 22: 20,
        30: 30, 31: 30,
    }
    # driver fast path (default) and the distributed min-label loop
    # (driver_max_edges=0 forces it) must agree exactly
    fast = {r["id"]: r["cluster_id"] for r in connected_components(pairs).collect()}
    dist = {
        r["id"]: r["cluster_id"]
        for r in connected_components(pairs, driver_max_edges=0).collect()
    }
    assert fast == want and dist == want
    # empty pair list → empty result on both paths
    empty = pairs.limit(0)
    assert connected_components(empty).count() == 0
    assert connected_components(empty, driver_max_edges=0).count() == 0


def test_connected_components_nonconvergence_raises(spark):
    """A component whose diameter exceeds max_iter must RAISE on the
    distributed path, never silently return mid-propagation labels
    (wrong cluster ids corrupt dedup keep/drop decisions downstream).
    With enough rounds the same chain converges exactly."""
    import pytest as _pytest

    from wormpy_spark.operators.components import connected_components

    # a 31-node path: diameter 30
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(100, 130)], "doc_a long, doc_b long"
    )
    with _pytest.raises(RuntimeError, match="did not converge"):
        connected_components(chain, max_iter=5, driver_max_edges=0)
    ok = {
        r["id"]: r["cluster_id"]
        for r in connected_components(
            chain, max_iter=32, driver_max_edges=0
        ).collect()
    }
    assert ok == {i: 100 for i in range(100, 131)}


def test_connected_components_reliable_checkpoint_parity(spark):
    """reliable_checkpoints=True swaps localCheckpoint for the
    fault-tolerant checkpoint() (ADVICE r4: local-checkpoint blocks die
    with the executor and linger until GC). Same labels, same contract;
    needs a checkpoint dir on the context."""
    import tempfile

    from wormpy_spark.operators.components import connected_components

    prev = spark.sparkContext._jsc.sc().getCheckpointDir()
    with tempfile.TemporaryDirectory(prefix="wormpy_ckpt_") as d:
        spark.sparkContext.setCheckpointDir(d)
        pairs = spark.createDataFrame(
            [(1, 2), (2, 3), (3, 4), (10, 11)], "doc_a long, doc_b long"
        )
        got = {
            r["id"]: r["cluster_id"]
            for r in connected_components(
                pairs, driver_max_edges=0, reliable_checkpoints=True
            ).collect()
        }
        assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}
        if prev.isDefined():
            spark.sparkContext.setCheckpointDir(prev.get())


def test_asof_join_backward(spark):
    """merge_asof semantics: largest right_time <= left_time per key
    (inclusive), null when nothing at-or-before, keys never bleed."""
    from wormpy_spark.operators.asof import asof_join_backward

    left = spark.createDataFrame(
        [(1, 10, "a"), (2, 5, "a"), (3, 4, "a"), (4, 100, "b"), (5, 1, "c")],
        "id long, t long, k string",
    )
    right = spark.createDataFrame(
        [(5, "a", 50.0), (10, "a", 60.0), (99, "b", 70.0)],
        "rt long, k string, v double",
    )
    out = {
        r["id"]: (r["rt"], r["v"])
        for r in asof_join_backward(
            left, right, "k", "t", "rt", ["rt", "v"]
        ).collect()
    }
    assert out == {
        1: (10, 60.0),   # exact tie at t=10 matches (inclusive)
        2: (5, 50.0),
        3: (None, None),  # before any right row
        4: (99, 70.0),
        5: (None, None),  # key with no right rows at all
    }


def test_asof_join_tolerance(spark):
    """merge_asof(tolerance=...): a match further back than the bound
    is nulled, an in-bound match survives, exact-boundary is inclusive."""
    from pyspark.sql import functions as F

    from wormpy_spark.operators.asof import asof_join_backward

    left = spark.createDataFrame(
        [(1, 100, "a"), (2, 100, "b"), (3, 100, "c")], "id long, t long, k string"
    )
    right = spark.createDataFrame(
        [(95, "a", 1.0), (50, "b", 2.0), (90, "c", 3.0)],
        "rt long, k string, v double",
    )
    out = {
        r["id"]: r["v"]
        for r in asof_join_backward(
            left, right, "k", "t", "rt", ["v"], tolerance=F.lit(10)
        ).collect()
    }
    assert out == {1: 1.0, 2: None, 3: 3.0}  # 95>=90 in, 50<90 out, 90 boundary in


def test_asof_join_payload_collision_raises(spark):
    """A payload name already present on the left must raise instead of
    silently overwriting the caller's column (ADVICE r4)."""
    import pytest

    from wormpy_spark.operators.asof import asof_join_backward

    left = spark.createDataFrame([(1, 10, "a", 0.0)], "id long, t long, k string, v double")
    right = spark.createDataFrame([(5, "a", 1.0)], "rt long, k string, v double")
    with pytest.raises(ValueError, match="collide"):
        asof_join_backward(left, right, "k", "t", "rt", ["v"])
