"""Benchmark harness.

Runs EVERY registered plan at $SPARK_GRAFT_SF_DIR (default sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE compact JSON line (< 2 KB —
the driver's stdout tail capture is ~3 KB and BENCH_r05/r06 proved a
full per-query dict overflows it):
  {"metric": "...", "value": N, "unit": "sec", "families": {...},
   "worst10": {...}, "sf": ..., "detail": "BENCH_DETAIL.json"}

Full per-query timings/rows/errors go to BENCH_DETAIL.json (committed
each round — git history is the per-round archive) and to stderr.
Per-query timing includes full execution to a count/collect action.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from compendium_spark.plans import all_plans  # noqa: E402
from compendium_spark.session import get_session  # noqa: E402


def _family(name: str) -> str:
    """Bench family = first underscore token, trailing digits stripped
    (q1→q, a12→a, j20→j, text_lm_score→text)."""
    import re

    head = name.split("_", 1)[0]
    return re.match(r"[a-z]*", head).group(0) or head


def _baseline() -> dict[str, float]:
    """Per-query seconds for the regression guard: the per-query MIN
    over the newest TWO per-round archives (BENCH_DETAIL_r{N}.json —
    frozen at round close after a min-of-N uncontended run) plus the
    rolling BENCH_DETAIL.json, each admitted only if complete and at
    sf0.1. VERDICT r11 #4 (ratchet risk): freezing happens in ONE
    session, and a uniformly throttled session (r11's freeze measured
    ~1.13× r10's) would otherwise become the sole denominator — every
    next round then reads as a phantom speed-up. Taking the fastest
    complete recent observation per query means a slow freeze can
    never inflate the baseline, while a plan REWORKED faster still
    ratchets down as soon as one clean freeze records it. Falls back
    to the driver's BENCH_r{N}.json captures (full per-query through
    r04); empty if nothing exists (round 1)."""
    import glob
    import re

    here = os.path.dirname(os.path.abspath(__file__))
    archives = sorted(
        glob.glob(os.path.join(here, "BENCH_DETAIL_r*.json")),
        key=lambda p: int(re.search(r"BENCH_DETAIL_r(\d+)", p).group(1)),
        reverse=True,
    )
    # ADVICE r9 #2 still holds: never fall through to a many-rounds-old
    # archive whose timings predate plan reworks — only the newest two
    # freezes + the rolling file are candidates.
    candidates = [*archives[:2], os.path.join(here, "BENCH_DETAIL.json")]
    skipped: list[str] = []
    used: list[str] = []
    best: dict[str, float] = {}
    for detail in candidates:
        try:
            with open(detail) as f:
                doc = json.load(f)
            queries = {
                k: v for k, v in dict(doc.get("queries", {})).items()
                if isinstance(v, (int, float))
            }
            # only a detail file recorded at the guard's scale factor
            # is a valid baseline (local sf0.001 smoke runs also write
            # the rolling file), and only a COMPLETE one: a
            # partial/errored run would silently drop its failed plans
            # from the guard and make one throttled session the
            # committed baseline (r7 advice). "Complete" = no recorded
            # errors and per-query coverage ≥90% of the current
            # registry (new plans legitimately miss from an old
            # baseline, hence not ==).
            from compendium_spark.plans import all_plans as _ap

            complete = (
                not doc.get("errors")
                and len(queries) >= 0.9 * len(_ap())
            )
            if queries and doc.get("sf") == 0.1 and complete:
                used.append(os.path.basename(detail))
                for k, v in queries.items():
                    if k not in best or v < best[k]:
                        best[k] = v
            else:
                skipped.append(os.path.basename(detail))
        except (
            OSError,
            json.JSONDecodeError,
            AttributeError,
            TypeError,
            ImportError,
        ):
            skipped.append(os.path.basename(detail))
            continue
    if best:
        note = f" (skipped unusable: {', '.join(skipped)})" if skipped else ""
        print(
            f"bench: baseline = per-query min of {', '.join(used)}{note}",
            file=sys.stderr,
        )
        return best
    if skipped:
        print(
            "bench: WARNING no usable BENCH_DETAIL baseline "
            f"(unusable: {', '.join(skipped)}); falling back to driver "
            "BENCH_r*.json captures",
            file=sys.stderr,
        )
    runs = sorted(
        glob.glob(os.path.join(here, "BENCH_r*.json")),
        key=lambda p: int(re.search(r"BENCH_r(\d+)", p).group(1)),
    )
    # walk newest-first, skipping rounds whose run crashed (BENCH_r02
    # has "parsed": null) so the guard compares against real timings
    for path in reversed(runs):
        try:
            with open(path) as f:
                doc = json.load(f)
            # the driver wraps our JSON line under "parsed"
            doc = doc.get("parsed", doc) or {}
            queries = {
                k: v for k, v in dict(doc.get("queries", {})).items()
                if isinstance(v, (int, float))
            }
            if queries:
                return queries
        except (OSError, json.JSONDecodeError, AttributeError, TypeError):
            continue
    return {}


def session_median_delta(
    timings: dict[str, float], base: dict[str, float], min_n: int = 5
) -> float:
    """Median of per-query (observed / baseline) over every plan with
    both numbers — the SESSION HEAT factor, clamped to >= 1.0.

    VERDICT r13 #3 (baseline ratchet): the baseline is a per-query min
    over a growing history, so it only ever falls, and a whole session
    running uniformly hot (r13 measured median 1.28x, flat across
    families) pushed EVERY plan toward the absolute 1.3x flag — pure
    false positives. Normalizing by the session median makes the guard
    flag only plans regressing RELATIVE to their own session. The
    clamp keeps a genuinely fast session from tightening the guard
    below the absolute 1.3x contract, and < ``min_n`` comparable plans
    (tiny synthetic suites, round 1) fall back to 1.0 = the old
    absolute behavior."""
    ratios = sorted(
        timings[n] / base[n]
        for n in timings
        if base.get(n, 0) > 0
    )
    if len(ratios) < min_n:
        return 1.0
    mid = len(ratios) // 2
    med = (
        ratios[mid]
        if len(ratios) % 2
        else (ratios[mid - 1] + ratios[mid]) / 2
    )
    return max(1.0, med)


def run_suite(
    names: list[str],
    execute,
    base: dict[str, float],
) -> tuple[dict[str, float], dict[str, int], dict[str, str]]:
    """Run the suite (2 interleaved passes + late confirmation pass
    for outliers at >1.3x their baseline AFTER dividing out the
    session median delta), returning (timings, rows, errors).

    One broken query must never zero out the whole artifact (round 2's
    j10_range_join aborted the entire bench): every execution is
    wrapped, failures are recorded under ``errors``, and the run goes
    on. ``execute(name) -> row_count`` is injected so
    tests/test_bench_harness.py can prove the isolation without a
    SparkSession.
    """
    timings: dict[str, float] = {}
    rows: dict[str, int] = {}
    errors: dict[str, str] = {}

    def run_once(name: str) -> None:
        try:
            t0 = time.perf_counter()
            rows[name] = execute(name)
            t = time.perf_counter() - t0
        except Exception as exc:  # noqa: BLE001 — survive any plan failure
            errors[name] = f"{type(exc).__name__}: {exc}"[:500]
            return
        timings[name] = min(timings.get(name, float("inf")), t)

    for _pass in range(2):
        for name in names:
            run_once(name)
    # confirmation pass: anything still >1.3x its recorded baseline
    # AFTER dividing out the session heat (median delta across all
    # plans) gets one more (late, outside the earlier windows) run —
    # a spike is not a plan regression, and neither is a uniformly
    # hot session (VERDICT r13 #3)
    med = session_median_delta(timings, base)
    for name in names:
        b = base.get(name)
        if b and name in timings and timings[name] > 1.3 * med * b:
            run_once(name)
    return timings, rows, errors


def compact_line(
    timings: dict[str, float],
    errors: dict[str, str],
    sf,
    budget: int = 1900,
) -> dict:
    """The single stdout JSON line, guaranteed to serialize under
    ``budget`` bytes (the driver's tail capture is ~3 KB; BENCH_r05 and
    r06 both came back `parsed: null` because the full per-query dict
    overflowed it). Degrades by dropping worst10 then families."""
    total = round(sum(timings.values()), 2)
    fams: dict[str, float] = {}
    for name, t in timings.items():
        f = _family(name)
        fams[f] = fams.get(f, 0.0) + t
    fams = {k: round(v, 2) for k, v in sorted(fams.items())}
    worst = dict(
        sorted(
            ((k, round(v, 2)) for k, v in timings.items()),
            key=lambda kv: -kv[1],
        )[:10]
    )
    out = {
        "metric": "all_plans_total_wall",
        "value": total,
        "unit": "sec",
        "sf": float(sf) if str(sf).replace(".", "").isdigit() else sf,
        "n_queries": len(timings),
        "n_errors": len(errors),
        "families": fams,
        "worst10": worst,
        "detail": "BENCH_DETAIL.json",
    }
    for drop in ("worst10", "families"):
        if len(json.dumps(out)) <= budget:
            break
        out.pop(drop, None)
    return out


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    spark = get_session("compendium_spark_bench")
    plans = all_plans()
    suite = sorted(plans)

    # warm the JVM/session on the smallest sf so per-query numbers
    # measure the plan, not session startup; also spawn the Python
    # worker pool (reused daemons) so the first pandas-UDF query isn't
    # charged ~10s of interpreter forks
    plans["q1_pricing_summary"].fn(spark, "/root/testdata/sf0.001").collect()
    (
        spark.range(spark.sparkContext.defaultParallelism * 4)
        .repartition(spark.sparkContext.defaultParallelism)
        .mapInPandas(lambda it: (pdf for pdf in it), schema="id long")
        .count()
    )

    # Two INTERLEAVED passes over the whole suite, per-query min.
    # Consecutive reps of one query land inside the same host
    # CPU-throttle window (this box shows multi-x multi-second spikes);
    # interleaving puts a query's reps minutes apart so the min sees at
    # least one un-throttled run. Pass 1 also pays per-plan codegen.
    base = _baseline() if sf == "0.1" else {}
    timings, rows, errors = run_suite(
        suite,
        lambda name: plans[name].fn(spark, sf_dir).count(),
        base,
    )
    for name in suite:
        if name in errors and name not in timings:
            print(f"# {name}: ERROR {errors[name]}", file=sys.stderr)
            continue
        timings[name] = round(timings[name], 4)
        print(f"# {name}: {timings[name]:.3f}s ({rows[name]} rows)", file=sys.stderr)

    # regression guard: per-query delta vs the recorded baseline,
    # flagged only when the plan is slow RELATIVE TO THIS SESSION
    # (raw ratio / session median delta > 1.3) — a uniformly hot
    # session shifts every raw ratio but flags nothing (VERDICT r13
    # #3). Only meaningful at the recorded scale factor, sf0.1.
    med = session_median_delta(timings, base)
    if base:
        print(
            f"# session median delta: {med:.2f}x "
            "(flag threshold = 1.3x of this)",
            file=sys.stderr,
        )
    for name, t in timings.items():
        b = base.get(name)
        if b is None:
            if base:
                print(f"# delta {name}: NEW ({t:.3f}s)", file=sys.stderr)
            continue
        ratio = t / b if b > 0 else float("inf")
        norm = ratio / med
        flag = (
            "  <-- REGRESSION >1.3x session-normalized"
            if norm > 1.3
            else ""
        )
        print(
            f"# delta {name}: {ratio:.2f}x raw, {norm:.2f}x normalized "
            f"vs baseline {b:.3f}s{flag}",
            file=sys.stderr,
        )

    # full per-query record → committed file (git history archives it
    # per round); stdout stays a compact guaranteed-to-fit line
    detail = {
        "metric": "all_plans_total_wall",
        "value": round(sum(timings.values()), 4),
        "unit": "sec",
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "queries": timings,
        "rows": rows,
        "errors": {k: v for k, v in errors.items() if k not in timings},
    }
    here = os.path.dirname(os.path.abspath(__file__))
    with open(os.path.join(here, "BENCH_DETAIL.json"), "w") as f:
        json.dump(detail, f, indent=1, sort_keys=True)

    print(json.dumps(compact_line(timings, errors, sf)))


if __name__ == "__main__":
    main()
