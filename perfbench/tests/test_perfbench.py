"""Tests of the benchmark itself.

    python -m pytest perfbench/tests -q

The last test starts a local Spark session (about 15 s).
"""

from __future__ import annotations

import json
import os
import sys
import time

import numpy as np
import pyarrow as pa
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import gen, probe, run  # noqa: E402
from perfbench.workloads import Query, Workload, workloads  # noqa: E402


def _contract() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_benchmark_json_names_only_known_workloads():
    known = workloads()
    for w in _contract()["workloads"]:
        assert w["name"] in known
        assert w["why"] == known[w["name"]].why


def test_end_to_end_metrics_match_benchmark_json():
    passes = [{"wall": 2.0, "steps": {"a": [0.5], "b": [0.7, 0.9]}},
              {"wall": 3.0, "steps": {"a": [0.3], "b": [0.8]}}]
    setup = {"start_s": 5.0, "registry_s": 0.2, "first_action_s": 1.0}
    got = run.end_to_end(setup, passes, 1000)
    want = {m["name"]: m["unit"] for m in _contract()["end_to_end"]}
    assert {k: v["unit"] for k, v in got.items()} == want
    assert got["wall_s"]["value"] == 2.5
    assert got["rows_per_s"]["value"] == 400.0
    assert got["step_p50_s"]["value"] == (0.4 + 0.8) / 2
    assert all(v["value"] > 0 for v in got.values())


def test_per_layer_metrics_match_benchmark_json():
    spans = probe.Spans()
    p = spans.add("pass", "pass", 0.0, 10.0, None)
    q = spans.add("q", "query", 0.0, 10.0, p)
    spans.add("build", "plan", 0.0, 1.0, q, sql_executions=2, jobs=1)
    d = spans.add("drain", "streaming", 1.0, 9.0, q, tasks=8, task_s=16.0, spill_bytes=0)
    spans.add("batch 0", "microbatch", 1.0, 5.0, d, input_rows=10, state_update_ms=3,
              state_commit_ms=1, state_removal_ms=0, state_rows=4, state_bytes=64,
              add_batch_ms=3, planning_ms=1)
    spans.add("sink", "streaming", 9.0, 10.0, q)
    setup = {"start_s": 5.0, "registry_s": 0.2, "first_action_s": 1.0}
    got = run.layer_metrics(spans, {"loop": 10.0}, 9.5, setup, 4, 2**30)
    want = {m["name"]: m["unit"] for m in _contract()["per_layer"]}
    assert {k: v["unit"] for k, v in got.items()} == want
    assert got["trace.layer_share"]["value"] == 1.0
    assert got["trace.overhead_s"]["value"] == 0.5
    assert got["exec.core_busy_ratio"]["value"] == 16.0 / (9.0 * 4)
    assert got["streaming.batches"]["value"] == 1
    assert got["session.peak_rss_mb"]["value"] == 1024.0


@pytest.mark.parametrize("name", sorted(workloads()))
def test_generator_is_deterministic_per_seed(name):
    make = workloads()[name].make
    a, streams = make(np.random.default_rng(7))
    b, _ = make(np.random.default_rng(7))
    c, _ = make(np.random.default_rng(8))
    assert a.keys() == b.keys() == c.keys()
    assert all(a[t].equals(b[t]) for t in a)
    assert not any(a[t].equals(c[t]) for t in a if a[t].num_rows > 25)
    gen.check_tables(a, streams)


def test_check_tables_rejects_rows_behind_the_watermark():
    ev = gen.events(np.random.default_rng(1), 400, 50, 2)
    ts = ev["ts"].to_numpy().astype("datetime64[us]").copy()
    ts[300] = ts[0]  # a second-file row from two days earlier
    late = ev.set_column(1, "ts", pa.array(ts, type=pa.timestamp("us")))
    gen.check_tables({"events": ev}, {"events": 2})
    with pytest.raises(gen.InputCheckError):
        gen.check_tables({"events": late}, {"events": 2})


def test_check_tables_rejects_values_off_the_cent_grid():
    li = gen.star_schema(np.random.default_rng(1), 0.001)["lineitem"]
    off = li.set_column(li.schema.get_field_index("l_discount"), "l_discount",
                        pa.array(li["l_discount"].to_numpy() + 0.001))
    with pytest.raises(gen.InputCheckError):
        gen.check_tables({"lineitem": off}, {})


class _CountingRunner:
    def __init__(self, warmup_passes):
        self.wl = Workload("w", "test", None, (), warmup_passes)
        self.calls = []

    def run_pass(self, warmup=False):
        self.calls.append(warmup)
        return {"wall": 0.0}


def test_measure_runs_warmup_then_at_least_min_passes():
    r = _CountingRunner(2)
    passes = run.measure(r, 0.0, time.monotonic())
    assert r.calls == [True, True] + [False] * run.MIN_PASSES
    assert len(passes) == run.MIN_PASSES


def test_metric_value_parses_status_store_strings():
    assert probe.metric_value("1,947") == 1947
    assert probe.metric_value("103.0 KiB") == 103 * 1024
    assert probe.metric_value("total (min, med, max (stageId: taskId))\n1.9 s (451 ms, 4 ms)") == 1.9
    assert probe.metric_value("625 ms") == 0.625


@pytest.fixture(scope="module")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
    os.environ.setdefault("SPARK_DRIVER_MEM", "1g")
    os.environ["PYTHONPATH"] = ROOT
    from flink_release_1_16_0_spark import get_spark

    session = get_spark("perfbench-test", {"spark.ui.showConsoleProgress": "false"})
    yield session
    session.stop()


def test_wrong_result_raises_failed_ratio(spark, tmp_path):
    wl = Workload("q6_only", "test", lambda rng: ({
        **gen.star_schema(rng, 0.002),
        "events": gen.events(rng, 50, 5, 1),
        "documents": gen.documents(rng, 20),
        "embeddings": gen.embeddings(rng, 20),
    }, {}), (Query("q6_forecast_revenue", ("lineitem",), None),), 1)
    data, meta = run.prepare_inputs(wl, 3, str(tmp_path), 256, str(tmp_path))
    good = run.Runner(spark, wl, data, meta, run.load_compare(), None)
    good.run_pass(warmup=True)
    good.run_pass()
    assert (good.attempted, good.failed) == (2, 0)

    meta["expected"]["q6_forecast_revenue"] = meta["expected"]["q6_forecast_revenue"] + 0.01
    bad = run.Runner(spark, wl, data, meta, run.load_compare(), None)
    bad.run_pass(warmup=True)
    assert (bad.attempted, bad.failed) == (1, 1)
    assert "q6_forecast_revenue: VALUES" in bad.failures[0]
