"""Timed passes: outputs checked per op, minimum pass counts."""

from __future__ import annotations

import pytest

from perfbench import worker
from perfbench.stats import tail
from perfbench.trace import Tracer
from perfbench.workloads import MIN_PASSES, PLANS, Op


class FakeCtx:
    op_id = ""

    def group(self, suffix: str) -> None:
        pass


def test_each_output_is_checked_after_its_op_and_dropped():
    ops = [
        Op("right", lambda c: 2, lambda o: o == 2),
        Op("wrong", lambda c: 3, lambda o: o == 2),
        Op("raises", lambda c: 1 / 0, lambda o: True),
        Op("bad_check", lambda c: 2, lambda o: o["x"]),
    ]
    records: list[dict] = []
    wall, _cpu = worker.run_pass(FakeCtx(), ops, 0, records, Tracer())
    assert [r["ok"] for r in records] == [True, False, False, False]
    assert records[1]["err"] == "wrong result"
    assert records[2]["err"].startswith("ZeroDivisionError")
    assert records[3]["err"].startswith("check failed: TypeError")
    assert all("out" not in r for r in records)
    assert wall == pytest.approx(sum(r["s"] for r in records))


def test_a_warm_up_pass_is_not_checked():
    calls = []
    ops = [Op("op", lambda c: 1, lambda o: calls.append(o) or True)]
    worker.run_pass(FakeCtx(), ops, -1, None, Tracer())
    assert calls == []


def test_a_run_makes_its_minimum_passes_when_time_is_up():
    ops = [Op("noop", lambda c: None, lambda o: True)]
    records: list[dict] = []
    walls, _cpus, k = worker.timed_passes(
        FakeCtx(), ops, 0, 0, records, Tracer(), lambda k: None, min_passes=2
    )
    assert len(walls) == 2 and k == 2 and len(records) == 2


def test_the_plan_runs_time_a_tail_above_their_median():
    _v, pct, n = tail([1.0] * (len(PLANS) * MIN_PASSES["plans"]))
    assert pct > 50 and n - n * pct / 100 >= 10
