"""Partition-robustness parity sweep.

The local gate (tests/test_parity.py) runs at shuffle.partitions=8;
the driver's environment may differ, and any plan whose output depends
on partition count (a float sum whose accumulation order shifts, a
nondeterministic tie) would pass locally and fail in the gate. This
tool re-runs the oracle parity compare — same bitwise float
discipline — for every registered plan under a DIFFERENT
shuffle-partition count.

The integer-moments / FLOOR-quantize idioms exist precisely so this
sweep is boring; run it after adding plans whose terminal expressions
involve floats.

Usage:
    python tools/parity_sweep.py [--partitions N] [--sf-dir DIR]
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--partitions", type=int, default=32)
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    args = ap.parse_args()

    from compendium_spark.plans import all_plans
    from compendium_spark.session import get_session
    from tests.test_parity import _assert_hash_equal, _duck_conn, _normalize

    spark = get_session(
        f"parity{args.partitions}", shuffle_partitions=args.partitions
    )
    plans = all_plans()
    names = [n for n, p in plans.items() if p.oracle is not None]
    con = _duck_conn(args.sf_dir)
    failures = []
    for name in names:
        p = plans[name]
        try:
            got = _normalize(p.fn(spark, args.sf_dir).toPandas())
            want = _normalize(con.execute(p.oracle).df())
            _assert_hash_equal(got, want, name)
        except Exception as exc:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL {name}: {str(exc)[:200]}")
    print(
        f"swept {len(names)} plans at shuffle.partitions={args.partitions}: "
        f"{len(failures)} failure(s)"
    )
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
