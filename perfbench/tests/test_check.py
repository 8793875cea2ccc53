"""The checkers catch planted wrong results."""

from __future__ import annotations

import pyarrow as pa

from perfbench.check import table_digest
from perfbench.gen_lifecycle import LifecycleSize, TAXON, generate
from perfbench.workloads import lifecycle_ops

GOOD = pa.table({"k": [1, 2, 3], "v": [0.5, -0.0, 2.25], "s": ["a", None, "c"]})


def test_digest_ignores_row_and_column_order():
    shuffled = pa.table({"s": ["c", "a", None], "v": [2.25, 0.5, -0.0], "k": [3, 1, 2]})
    assert table_digest(shuffled) == table_digest(GOOD)


def test_digest_catches_planted_wrong_values():
    want = table_digest(GOOD)
    last_ulp = pa.table({"k": [1, 2, 3], "v": [0.5000000000000001, -0.0, 2.25],
                         "s": ["a", None, "c"]})
    signed_zero = pa.table({"k": [1, 2, 3], "v": [0.5, 0.0, 2.25], "s": ["a", None, "c"]})
    int_as_float = pa.table({"k": [1.0, 2.0, 3.0], "v": [0.5, -0.0, 2.25],
                             "s": ["a", None, "c"]})
    missing_row = GOOD.slice(0, 2)
    null_for_empty = pa.table({"k": [1, 2, 3], "v": [0.5, -0.0, 2.25], "s": ["a", "", "c"]})
    for bad in (last_ulp, signed_zero, int_as_float, missing_row, null_for_empty):
        assert table_digest(bad) != want


def test_lifecycle_checks_reject_wrong_output(tmp_path):
    truth = generate(tmp_path, 3, LifecycleSize(samples=90, projects=3, asvs_per_project=2))
    ops = {op.name: op for op in lifecycle_ops(tmp_path, truth, TAXON)}
    xml = ops["xml"]
    assert xml.check(f"saved {truth.samples_saved} new samples\n")
    assert not xml.check(f"saved {truth.samples_saved + 1} new samples\n")
    fwd = ops["forward"]
    right = "".join(f"{p}: {d}\n" for p, d in truth.decisions.items())
    assert fwd.check("done: []\n" + right)
    flipped = {p: ("save" if d != "save" else "discard") for p, d in truth.decisions.items()}
    assert not fwd.check("".join(f"{p}: {d}\n" for p, d in flipped.items()))
    status = ops["status"]
    good = "".join(f"{k}\t{v}\n" for k, v in truth.status_freq.items())
    assert status.check(good)
    assert not status.check(good + "done\t1\n")
