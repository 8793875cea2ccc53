"""Every plan the benchmark runs is still registered with an oracle."""

from __future__ import annotations

import json
from pathlib import Path

from compendium_spark.plans import all_plans
from perfbench.workloads import PLANS

ROOT = Path(__file__).resolve().parents[2]


def test_listed_plans_are_registered_with_oracles():
    plans = all_plans()
    listed = [n for n, _ in PLANS]
    assert len(listed) == len(set(listed))
    for name in listed:
        assert name in plans, f"{name} is no longer registered"
        assert plans[name].oracle is not None, f"{name} lost its oracle"


def test_benchmark_json_names_the_workloads_the_runner_knows():
    from perfbench.run import WORKLOADS

    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert [w["name"] for w in bench["workloads"]] == list(WORKLOADS)


def test_traced_run_reports_exactly_the_listed_per_layer_metrics(tmp_path):
    from perfbench.layers import layer_metrics
    from perfbench.trace import Tracer

    host = {"nproc": 4, "job_floor_s": 0.05, "steal_frac": 0.0, "load_1m": 1.0}
    setup = {"session.start_s": 6.0, "session.warm_s": 5.0}
    per, _ops, _spans = layer_metrics(
        Tracer(), ([], [1.0], [1.0], [], {}), [1.0], setup, host, tmp_path
    )
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert list(per) == [m["name"] for m in bench["per_layer"]]
