"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. Each run gets a fresh worker process
(``perfbench/worker.py``) with its own SparkSession, TMPDIR,
SPARK_LOCAL_DIRS, warehouse and inputs under ``.perfbench/runs/``,
which is removed afterwards. Human-readable lines go to stdout first;
the last stdout line is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics for ``--trace 0`` and the per-layer
metrics for ``--trace 1``. A traced run also leaves its spans, per-op
ledger and host context in ``.perfbench/out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORKLOADS = ("lifecycle", "plans")
WORKER_TIMEOUT_S = 170


def _driver_mem() -> str:
    """A JVM heap well below physical memory: an eighth, at most 2 GiB.
    A small heap fills and collects early, so the tree's peak memory
    varies less from run to run."""
    with open("/proc/meminfo") as f:
        kb = int(f.readline().split()[1])
    return f"{max(1, min(2, kb // (8 * 2**20)))}g"


def _kill_tree(proc: subprocess.Popen) -> None:
    """Stop the worker's whole process group (the worker, its JVM and the
    Python workers) and wait until it is gone. Nothing in it needs a
    clean shutdown: the run directory is removed afterwards."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    deadline = time.time() + 10
    while time.time() < deadline:
        try:
            os.killpg(proc.pid, 0)
        except ProcessLookupError:
            break
        time.sleep(0.05)
    proc.wait()


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not (ROOT / "compendium_spark" / "__init__.py").is_file():
        print(f"perfbench: no compendium_spark package under {ROOT}", file=sys.stderr)
        return 2

    nproc = os.cpu_count() or 1
    run_dir = ROOT / ".perfbench" / "runs" / f"{args.workload}-s{args.seed}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    (run_dir / "tmp").mkdir(parents=True)
    (run_dir / "spark-local").mkdir()
    settings = {
        "PYTHONPATH": str(ROOT),
        "TMPDIR": str(run_dir / "tmp"),
        "SPARK_LOCAL_DIRS": str(run_dir / "spark-local"),
        "SPARK_GRAFT_CPUS": str(nproc),
        "SPARK_GRAFT_DRIVER_MEM": _driver_mem(),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
    }
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    env.update(settings)
    env["PERFBENCH_T_SPAWN"] = repr(time.time())
    worker_args = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "run_dir": str(run_dir),
    }
    with open(run_dir / "worker.log", "w") as log:
        proc = subprocess.Popen(
            [sys.executable, str(HERE / "worker.py"), json.dumps(worker_args)],
            cwd=ROOT,
            env=env,
            stdout=subprocess.DEVNULL,
            stderr=log,
            start_new_session=True,
        )
        try:
            rc = proc.wait(timeout=WORKER_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            rc = None
        _kill_tree(proc)
    result_path = run_dir / "result.json"
    if rc != 0 or not result_path.is_file():
        log = (run_dir / "worker.log").read_text(errors="replace")[-4000:]
        print(f"perfbench: worker {'timed out' if rc is None else f'exited {rc}'}\n{log}",
              file=sys.stderr)
        shutil.rmtree(run_dir, ignore_errors=True)
        return 1
    res = json.loads(result_path.read_text())
    if args.trace:
        out = ROOT / ".perfbench" / "out"
        out.mkdir(parents=True, exist_ok=True)
        stem = f"{args.workload}-s{args.seed}"
        (out / f"{stem}-trace.json").write_text(
            json.dumps({k: res[k] for k in ("context", "per_layer", "trace_ops", "tail")}, indent=1)
        )
        shutil.copy(run_dir / "spans.json", out / f"{stem}-spans.json")
    shutil.rmtree(run_dir, ignore_errors=True)

    e2e = res["end_to_end"]
    e2e["ok_rate"] = 1.0 - e2e["error_rate"]
    ctx = {**res["context"], **{f"setting.{k}": v for k, v in settings.items()}}
    print(f"workload {args.workload} seed {args.seed}: {res['attempted']} ops, "
          f"{res['failed']} failed, error_rate of the timed passes {e2e['error_rate']:.4f}")
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    print("why: " + next(w["why"] for w in bench["workloads"] if w["name"] == args.workload))
    print(f"op_tail_s is p{res['tail']['percentile']:.1f} of {res['tail']['samples']} ops")
    print("context " + json.dumps(ctx, sort_keys=True))
    for o in res["ops"]:
        print(f"op {o['op_id']} {o['s']:.3f} s cpu {o['cpu_s']:.2f} s {'ok' if o['ok'] else 'FAILED'}")
    for e in res["errors"]:
        print(f"error {e}")
    values = res["per_layer"] if args.trace else e2e
    specs = bench["per_layer"] if args.trace else bench["end_to_end"]
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in specs}
    for k, v in metrics.items():
        print(f"{k} = {v['value']:.6g} {v['unit']}")
    print(json.dumps({"correct": res["failed"] == 0, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
