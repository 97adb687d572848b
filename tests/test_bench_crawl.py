"""bench_crawl's verify tail: the driver-counted branch and the
distributed branch past NEARDUP_DRIVER_MAX give the same counts."""

from __future__ import annotations

import numpy as np

from wormpy_spark import bench_crawl


def _verified(spark):
    """decode_verify-shaped rows: near-dup phashes with spread bits,
    random controls, a NULL phash, and failed / unknown flags."""
    base = 0x5A5A_1234_ABCD_0F0F
    phashes = [
        base,
        base ^ (1 << 3) ^ (1 << 19) ^ (1 << 35) ^ (1 << 51),
        base ^ (1 << 1) ^ (1 << 9) ^ (1 << 17) ^ (1 << 25) ^ (1 << 33) ^ (1 << 41),
        base ^ 0x7F,
        base ^ (1 << 63),  # sign bit set, hamming 1 from base
        None,
    ]
    rng = np.random.Generator(np.random.PCG64(5))
    phashes += [int(v) for v in rng.integers(0, 2**63, size=30, dtype=np.int64)]
    flags = [(True, True), (False, True), (True, None), (None, None), (True, False)]
    rows = [
        (f"i{i:02d}", *flags[i % len(flags)],
         None if p is None else (p - (1 << 64) if p >= 1 << 63 else p))
        for i, p in enumerate(phashes)
    ]
    return spark.createDataFrame(
        rows, "image_id string, sha_ok boolean, caption_ok boolean, phash long"
    )


def test_verify_counts_distributed_branch_matches_driver(spark, monkeypatch):
    ver = _verified(spark)
    driver = bench_crawl.verify_counts(ver)
    assert driver[0] == 36
    assert driver[1] == sum(i % 5 in (1, 4) for i in range(36))
    hashes = [r["phash"] & (2**64 - 1) for r in ver.collect() if r["phash"] is not None]
    brute = sum(
        bin(a ^ b).count("1") <= 6
        for i, a in enumerate(hashes) for b in hashes[i + 1 :]
    )
    assert driver[2] == brute >= 4  # base pairs with rows 1, 2 and 4; 1 with 4

    monkeypatch.setattr(bench_crawl, "NEARDUP_DRIVER_MAX", 8)
    calls = []
    real = bench_crawl.neardup_count_driver
    monkeypatch.setattr(
        bench_crawl, "neardup_count_driver",
        lambda *a, **k: calls.append(a) or real(*a, **k),
    )
    assert bench_crawl.verify_counts(ver) == driver
    assert calls == [], "the distributed branch did not run"
