"""bench.py's scaling row reports the cores each level really ran on.
Pure Python: starts no JVM."""

from __future__ import annotations

import bench


def test_scaling_levels_clamp_to_host_cores(monkeypatch):
    monkeypatch.setattr(bench, "CPUS", 4)
    monkeypatch.setenv("SPARK_GRAFT_BENCH_BIG", "8")
    monkeypatch.delenv("SPARK_GRAFT_BENCH_SMALL", raising=False)
    small = bench._level("SPARK_GRAFT_BENCH_SMALL", 2)
    big = bench._level("SPARK_GRAFT_BENCH_BIG", 8)
    assert (small, big) == (2, 4)

    trials = {
        2: [{"wall_s": 9.0, "urls_per_sec": 100.0},
            {"wall_s": 8.0, "urls_per_sec": 110.0}],
        4: [{"wall_s": 5.0, "urls_per_sec": 170.0}],
    }
    row = bench._scaling_dict(trials, small, big)
    assert row["cpus_small"] == 2 and row["cpus_big"] == 4
    assert row["speedup"] == 1.6 and row["efficiency"] == 0.8

    # a 2-core host clamps both levels to 2: no scaling row
    monkeypatch.setattr(bench, "CPUS", 2)
    small = bench._level("SPARK_GRAFT_BENCH_SMALL", 2)
    big = bench._level("SPARK_GRAFT_BENCH_BIG", 8)
    assert small == big == 2
    assert bench._scaling_dict({2: trials[2]}, small, big) is None
