"""Self-tests of the benchmark.

    python3 -m pytest perfbench -q

The end-to-end tests run ``run.py`` on tiny inputs (the
``generate_corpus`` defaults and sf0.001-sized tables); each takes
about a minute, most of it JVM start-up.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import inputs, run, spark_trace  # noqa: E402
from perfbench.crawl_bench import neardup_pairs  # noqa: E402

CACHE = os.path.join(ROOT, ".perfbench_cache")


def _bench(workload: str, seed: int, trace: int) -> tuple[int, list[dict]]:
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", str(trace),
         "--scale", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    lines = [json.loads(l) for l in p.stdout.splitlines() if l.startswith("{")]
    return p.returncode, lines


# ---------------------------------------------------------------- contract

def test_benchmark_json_matches_the_runner():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert set(spec) == {"command", "paths", "run_seconds", "workloads",
                         "end_to_end", "per_layer"}
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert all(0 < m["bound"] <= 0.25 for m in spec["end_to_end"])
    setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert setup["better"] == "lower"
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])
    assert len(run.PER_LAYER) <= 128


# ---------------------------------------------------------------- units

def test_union_and_clip():
    assert spark_trace.union_s([(0, 2), (1, 3), (5, 6)]) == 4
    assert spark_trace.union_s([]) == 0
    assert spark_trace.clip([(0, 2), (3, 4)], 1, 3.5) == [(1, 2), (3, 3.5)]


def test_job_descriptions_map_to_phases():
    assert spark_trace.classify("crawl r3: fast round") == ("fastround", 3)
    assert spark_trace.classify("crawl r0: fetch+extract+pages-write") == ("fetch", 0)
    assert spark_trace.classify("crawl r2") == ("seq", 2)
    assert spark_trace.classify(spark_trace.PREPARE) == ("prepare", None)
    assert spark_trace.classify(spark_trace.SWEEP + "q3") == ("sweep", None)
    assert spark_trace.classify(None) == (None, None)
    # a description the crawl driver does not set today maps to no phase,
    # which fails a traced crawl
    assert spark_trace.classify("crawl r1: renamed phase") == (None, 1)


def test_round_table_phases_plus_gap_equal_wall():
    Job = spark_trace.Job
    jobs = [Job(0, "crawl r0: fast round", 10.2, 10.6, [], "fastround", 0),
            Job(1, "crawl r1: fetch+extract+pages-write", 11.1, 11.8, [], "fetch", 1),
            Job(2, "crawl r1: expand+admit+frontier-write", 11.9, 12.0, [], "expand", 1)]
    spans = spark_trace.Spans([
        spark_trace.Span("catalog.commit_s", 10.7, 10.8, 0),
        spark_trace.Span("catalog.commit_s", 12.1, 12.2, 1)])
    rows = [{"round": 0, "wall_s": 0.6, "fetched": 1, "frontier_size": 1},
            {"round": 1, "wall_s": 1.1, "fetched": 9, "frontier_size": 9}]
    table = spark_trace.round_table(jobs, spans, rows, 10.0, 13.0)
    assert [r["round"] for r in table] == ["pre", 0, "between", 1, "post"]
    assert sum(r["wall_s"] for r in table) == pytest.approx(3.0)
    for r in table:
        phases = sum(r[f"{p}_job_s"] for p in spark_trace.ROUND_PHASES)
        assert phases + r["other_job_s"] - r["overlap_s"] + r["gap_s"] == pytest.approx(r["wall_s"])
    assert table[3]["fetch_job_s"] == pytest.approx(0.7)


def test_a_layer_the_workload_did_not_record_is_an_error():
    crawl = {k: 1.0 for k in run.WORKLOAD_LAYERS["crawl_wide"]}
    metrics, errors = run.layer_metrics("crawl_wide", crawl)
    assert errors == [] and set(metrics) == set(run.PER_LAYER)
    assert metrics["fetch.wall_s"]["value"] == 1.0
    assert metrics["query.q3_shipping_priority_s"]["value"] == 0.0
    del crawl["expand.wall_s"]
    _, errors = run.layer_metrics("crawl_wide", crawl)
    assert errors == ["traced run recorded no expand.wall_s"]
    _, errors = run.layer_metrics("query_sweep", crawl)
    assert "traced run recorded no sweep.gc_s" in errors


def test_neardup_pairs_treat_signed_hashes_as_unsigned():
    assert neardup_pairs([-1, -1 ^ 0b111, 0]) == 1
    assert neardup_pairs([5]) == 0


def test_query_rows_tolerate_only_a_cent_flip():
    from perfbench.query_bench import same_rows

    assert same_rows([(1, 166096.56, "x")], [(1, 166096.55, "x")])
    assert not same_rows([(1, 166096.57, "x")], [(1, 166096.55, "x")])
    assert not same_rows([(1, 0.123457, "x")], [(1, 0.123456, "x")])
    assert not same_rows([(1, 1.5, "x")], [(2, 1.5, "x")])
    assert same_rows([(2, 1.0), (1, 2.0)], [(1, 2.0), (2, 1.0)])


def test_digests_depend_on_order_and_set():
    a = inputs.order_digest([(0, "u"), (1, "v")])
    assert a != inputs.order_digest([(0, "v"), (1, "u")])
    assert inputs.seen_digest(["b", "a"]) == inputs.seen_digest(["a", "b"])


# ---------------------------------------------------------------- end to end

@pytest.mark.parametrize("workload", run.WORKLOADS)
def test_workload_runs_end_to_end(workload):
    code, lines = _bench(workload, 5, 0)
    assert code == 0
    result = lines[-1]
    assert result["correct"] is True and result["failed"] == 0
    assert result["attempted"] >= 1
    assert set(result["metrics"]) == set(run.END_TO_END)
    assert all(m["value"] > 0 for m in result["metrics"].values())
    settings = lines[-2]["settings"]
    for key in ("cores", "driver_memory", "shuffle_partitions", "spark",
                "pyarrow", "java", "seed", "host.steal_frac"):
        assert key in settings


@pytest.mark.parametrize("workload", run.WORKLOADS)
def test_trace_has_every_layer_metric(workload):
    code, lines = _bench(workload, 5, 1)
    assert code == 0
    metrics = lines[-1]["metrics"]
    assert {k: v["unit"] for k, v in metrics.items()} == run.PER_LAYER
    # the layers the run itself recorded, before any other workload's
    # layers are filled in as 0
    detail = os.path.join(ROOT, ".perfbench_out", f"{workload}-tiny-seed5-trace1.json")
    with open(detail) as f:
        recorded = json.load(f)["layers"]
    assert set(run.WORKLOAD_LAYERS[workload]) <= set(recorded)
    if workload == "crawl_wide":
        table = next(l["round_table"] for l in lines if "round_table" in l)
        assert any(isinstance(r["round"], int) for r in table)
        assert metrics["crawl.rounds"]["value"] >= 1
    else:
        assert metrics["query.q3_shipping_priority_s"]["value"] > 0


def test_corrupted_expected_digest_fails_the_run():
    seed = 991
    entry = inputs.entry_dir(CACHE, "crawl_wide", "tiny", seed)
    shutil.rmtree(entry, ignore_errors=True)
    inputs.build("crawl_wide", "tiny", seed, CACHE)
    path = os.path.join(entry, inputs.EXPECTED)
    with open(path) as f:
        expected = json.load(f)
    expected["order"] = "0" * 64
    with open(path, "w") as f:
        json.dump(expected, f)
    try:
        code, lines = _bench("crawl_wide", seed, 0)
    finally:
        shutil.rmtree(entry, ignore_errors=True)
    assert code != 0
    assert lines[-1]["correct"] is False
    assert lines[-1]["failed"] == lines[-1]["attempted"] >= 1
