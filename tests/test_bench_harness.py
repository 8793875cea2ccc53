"""bench.py harness invariants — no SparkSession needed.

Round 2's bench artifact was destroyed by a single failing query
(BENCH_r02.json: rc=1, zero timings). These tests pin the two
protections added in round 3: per-query failure isolation in
``run_suite`` and crash-tolerant baseline loading in ``_baseline``.
"""

from __future__ import annotations

import json

import bench


class TestRunSuite:
    def test_one_broken_query_does_not_stop_the_run(self):
        def execute(name):
            if name == "broken":
                raise RuntimeError("boom")
            return 7

        timings, rows, errors = bench.run_suite(
            ["a", "broken", "b"], execute, base={}
        )
        assert set(timings) == {"a", "b"}
        assert rows == {"a": 7, "b": 7}
        assert list(errors) == ["broken"]
        assert "RuntimeError" in errors["broken"]

    def test_all_queries_run_twice_and_keep_min(self):
        calls: dict[str, int] = {}

        def execute(name):
            calls[name] = calls.get(name, 0) + 1
            return 1

        timings, _rows, errors = bench.run_suite(["a", "b"], execute, base={})
        assert calls == {"a": 2, "b": 2}
        assert not errors
        assert all(t >= 0 for t in timings.values())

    def test_confirmation_pass_reruns_slow_queries(self):
        calls: dict[str, int] = {}

        def execute(name):
            calls[name] = calls.get(name, 0) + 1
            return 1

        # baseline of 0 seconds can never be met -> a third (late) run
        bench.run_suite(["slow"], execute, base={"slow": 1e-12})
        assert calls["slow"] == 3

    def _fake_clock(self, monkeypatch, durations):
        """Deterministic timings: execute(name) advances a fake
        perf_counter by durations[name]; also counts calls."""
        clock = {"t": 0.0}
        calls: dict[str, int] = {}

        def execute(name):
            calls[name] = calls.get(name, 0) + 1
            clock["t"] += durations[name]
            return 1

        monkeypatch.setattr(bench.time, "perf_counter", lambda: clock["t"])
        return execute, calls

    def test_uniformly_hot_session_confirms_nothing(self, monkeypatch):
        """VERDICT r13 #3: every plan 1.6x its baseline (a hot
        session, like r13's flat median 1.28x) — the old absolute
        1.3x rule would re-run ALL of them; the session-normalized
        rule re-runs none (each plan sits exactly at the median)."""
        names = [f"p{i}" for i in range(8)]
        durations = {n: 1.6 for n in names}
        base = {n: 1.0 for n in names}
        execute, calls = self._fake_clock(monkeypatch, durations)
        bench.run_suite(names, execute, base)
        assert all(calls[n] == 2 for n in names), calls

    def test_true_regressor_still_confirmed_in_hot_session(
        self, monkeypatch
    ):
        """One plan at 4x baseline inside a 1.6x-hot session: 4/1.6 =
        2.5x normalized > 1.3 -> it alone gets the late third run."""
        names = [f"p{i}" for i in range(8)]
        durations = {n: 1.6 for n in names}
        durations["p3"] = 4.0
        base = {n: 1.0 for n in names}
        execute, calls = self._fake_clock(monkeypatch, durations)
        bench.run_suite(names, execute, base)
        assert calls["p3"] == 3
        assert all(calls[n] == 2 for n in names if n != "p3"), calls

    def test_fast_session_keeps_absolute_threshold(self, monkeypatch):
        """Median clamp: a session running FASTER than baseline
        (median 0.5x) must not tighten the guard below the absolute
        1.3x contract — a plan at 1.2x baseline stays unconfirmed."""
        names = [f"p{i}" for i in range(8)]
        durations = {n: 0.5 for n in names}
        durations["p5"] = 1.2
        base = {n: 1.0 for n in names}
        execute, calls = self._fake_clock(monkeypatch, durations)
        bench.run_suite(names, execute, base)
        assert calls["p5"] == 2, calls

    def test_median_falls_back_to_absolute_below_min_n(self):
        """< 5 comparable plans -> med = 1.0 (the round-1 / synthetic
        suite case; also keeps the 1e-12-baseline test above honest)."""
        assert bench.session_median_delta({"a": 9.0}, {"a": 1.0}) == 1.0
        t = {f"p{i}": 2.0 for i in range(5)}
        b = {f"p{i}": 1.0 for i in range(5)}
        assert bench.session_median_delta(t, b) == 2.0

    def test_flaky_then_recovering_query_gets_a_timing(self):
        calls = {"n": 0}

        def execute(name):
            calls["n"] += 1
            if calls["n"] == 1:
                raise ValueError("transient")
            return 3

        timings, rows, errors = bench.run_suite(["q"], execute, base={})
        # pass 1 failed, pass 2 succeeded: timing recorded, error kept
        assert "q" in timings
        assert rows["q"] == 3
        assert "q" in errors


class TestBaselineLoader:
    def test_skips_crashed_round_and_uses_previous(self, tmp_path, monkeypatch):
        ok = {"parsed": {"queries": {"q1": 1.5}}}
        crashed = {"parsed": None, "rc": 1}
        (tmp_path / "BENCH_r01.json").write_text(json.dumps(ok))
        (tmp_path / "BENCH_r02.json").write_text(json.dumps(crashed))
        monkeypatch.setattr(
            bench.os.path, "dirname", lambda _p: str(tmp_path)
        )
        assert bench._baseline() == {"q1": 1.5}

    def test_no_artifacts_means_empty(self, tmp_path, monkeypatch):
        monkeypatch.setattr(
            bench.os.path, "dirname", lambda _p: str(tmp_path)
        )
        assert bench._baseline() == {}

    def test_non_numeric_timings_filtered(self, tmp_path, monkeypatch):
        doc = {"parsed": {"queries": {"good": 2.0, "bad": None, "worse": "x"}}}
        (tmp_path / "BENCH_r01.json").write_text(json.dumps(doc))
        monkeypatch.setattr(
            bench.os.path, "dirname", lambda _p: str(tmp_path)
        )
        assert bench._baseline() == {"good": 2.0}


class TestCompactLine:
    """Round-7 fix: BENCH_r05/r06 came back `parsed: null` because the
    full per-query dict overflowed the driver's ~3 KB stdout tail
    capture. The stdout line must now serialize under ~1.9 KB no
    matter how many plans the registry holds."""

    def _timings(self, n):
        return {
            f"some_rather_long_plan_name_family_{i:03d}": 0.123 + i
            for i in range(n)
        }

    def test_fits_budget_at_registry_scale(self):
        t = self._timings(250)
        out = bench.compact_line(t, {}, "0.1")
        assert len(json.dumps(out)) <= 1900
        assert out["n_queries"] == 250
        assert out["value"] > 0

    def test_degrades_by_dropping_sections(self):
        # hundreds of distinct families -> the rollup itself overflows
        # and both optional sections must be shed
        letters = "abcdefghijklmnopqrst"
        t = {
            f"fam{letters[i // 20]}{letters[i % 20]}_plan": 0.5
            for i in range(400)
        }
        out = bench.compact_line(t, {}, "0.1", budget=250)
        assert len(json.dumps(out)) <= 250
        assert "worst10" not in out and "families" not in out

    def test_worst10_are_the_slowest(self):
        t = {"fast_a": 0.1, "slow_b": 9.0, "mid_c": 1.0}
        out = bench.compact_line(t, {}, "0.01")
        assert list(out["worst10"])[0] == "slow_b"

    def test_family_rollup(self):
        assert bench._family("q1_pricing_summary") == "q"
        assert bench._family("a12_stats_moments") == "a"
        assert bench._family("text_lm_score") == "text"
        assert bench._family("j20_asof_nearest") == "j"
        assert bench._family("ts_interpolate_linear") == "ts"

    def test_baseline_prefers_complete_detail_file(self, tmp_path, monkeypatch):
        from compendium_spark.plans import all_plans

        full = {name: 1.0 for name in all_plans()}
        (tmp_path / "BENCH_DETAIL.json").write_text(
            json.dumps({"sf": 0.1, "queries": full, "errors": {}})
        )
        (tmp_path / "BENCH_r01.json").write_text(
            json.dumps({"parsed": {"queries": {"q1": 1.5}}})
        )
        monkeypatch.setattr(
            bench.os.path, "dirname", lambda _p: str(tmp_path)
        )
        assert bench._baseline() == full

    def test_baseline_ignores_partial_detail(self, tmp_path, monkeypatch):
        """A detail file from a partial run (far fewer queries than the
        registry) must not become the baseline — its missing plans
        would silently lose their regression guard (r7 advice)."""
        (tmp_path / "BENCH_DETAIL.json").write_text(
            json.dumps({"sf": 0.1, "queries": {"qd": 4.0}})
        )
        (tmp_path / "BENCH_r01.json").write_text(
            json.dumps({"parsed": {"queries": {"q1": 1.5}}})
        )
        monkeypatch.setattr(
            bench.os.path, "dirname", lambda _p: str(tmp_path)
        )
        assert bench._baseline() == {"q1": 1.5}

    def test_baseline_ignores_errored_detail(self, tmp_path, monkeypatch):
        from compendium_spark.plans import all_plans

        full = {name: 1.0 for name in all_plans()}
        (tmp_path / "BENCH_DETAIL.json").write_text(
            json.dumps(
                {"sf": 0.1, "queries": full, "errors": {"qx": "boom"}}
            )
        )
        (tmp_path / "BENCH_r01.json").write_text(
            json.dumps({"parsed": {"queries": {"q1": 1.5}}})
        )
        monkeypatch.setattr(
            bench.os.path, "dirname", lambda _p: str(tmp_path)
        )
        assert bench._baseline() == {"q1": 1.5}

    def test_baseline_ignores_detail_at_wrong_sf(self, tmp_path, monkeypatch):
        (tmp_path / "BENCH_DETAIL.json").write_text(
            json.dumps({"sf": 0.001, "queries": {"qd": 4.0}})
        )
        (tmp_path / "BENCH_r01.json").write_text(
            json.dumps({"parsed": {"queries": {"q1": 1.5}}})
        )
        monkeypatch.setattr(
            bench.os.path, "dirname", lambda _p: str(tmp_path)
        )
        assert bench._baseline() == {"q1": 1.5}


class TestBaselineDeRatchet:
    """VERDICT r11 #4: one uniformly slow freeze session must never
    become the sole regression denominator — the baseline is the
    per-query MIN across the newest two complete archives + the
    rolling file."""

    def _write(self, tmp_path, fname, queries):
        (tmp_path / fname).write_text(
            json.dumps({"sf": 0.1, "queries": queries, "errors": {}})
        )

    def test_per_query_min_across_recent_freezes(self, tmp_path, monkeypatch):
        from compendium_spark.plans import all_plans

        names = list(all_plans())
        fast = {n: 1.0 for n in names}
        slow = {n: 1.3 for n in names}  # the inflated r11-style freeze
        slow[names[0]] = 0.5  # ... but genuinely faster on one plan
        self._write(tmp_path, "BENCH_DETAIL_r10.json", fast)
        self._write(tmp_path, "BENCH_DETAIL_r11.json", slow)
        monkeypatch.setattr(bench.os.path, "dirname", lambda _p: str(tmp_path))
        base = bench._baseline()
        assert base[names[0]] == 0.5  # real improvement ratchets down
        assert all(base[n] == 1.0 for n in names[1:])  # inflation ignored

    def test_unusable_freeze_degrades_to_older(self, tmp_path, monkeypatch):
        from compendium_spark.plans import all_plans

        names = list(all_plans())
        good = {n: 2.0 for n in names}
        self._write(tmp_path, "BENCH_DETAIL_r10.json", good)
        # r11 freeze exists but is partial -> skipped, r10 still used
        self._write(tmp_path, "BENCH_DETAIL_r11.json", {"q1": 0.1})
        monkeypatch.setattr(bench.os.path, "dirname", lambda _p: str(tmp_path))
        assert bench._baseline() == good

    def test_never_reaches_three_rounds_back(self, tmp_path, monkeypatch):
        from compendium_spark.plans import all_plans

        names = list(all_plans())
        self._write(tmp_path, "BENCH_DETAIL_r09.json", {n: 0.1 for n in names})
        self._write(tmp_path, "BENCH_DETAIL_r10.json", {n: 2.0 for n in names})
        self._write(tmp_path, "BENCH_DETAIL_r11.json", {n: 3.0 for n in names})
        monkeypatch.setattr(bench.os.path, "dirname", lambda _p: str(tmp_path))
        # r09's stale 0.1s timings must not leak into the min
        assert bench._baseline() == {n: 2.0 for n in names}
