"""One benchmark run in a fresh process: set up, generate, time, check.

Started by ``perfbench/run.py`` with the run's own TMPDIR,
SPARK_LOCAL_DIRS and run directory; writes ``result.json`` there.

Timeline of a run:

1. set-up: imports, ``get_session``, one trivial job and a Python
   worker per core (``setup_s`` counts from the process spawn);
2. inputs generated from the seed (not timed);
3. plan workloads only: one untimed warm-up pass over the op list (the
   first run of a plan pays codegen and JIT warm-up, which varies from
   run to run), with the DuckDB oracles computed beside it;
4. a scheduling-floor sample: the median of three one-task jobs;
5. timed passes over the workload's op list until their walls add up
   to ``--seconds`` and there are at least ``MIN_PASSES`` of them, each
   op's output checked right after it, outside its timed window.

With ``--trace 1`` the event log is on for the whole run, and after the
untraced passes come one pass with spans and the streaming listener
installed and one more pass without. The event log is folded per op.
Per-layer metrics come from the traced pass; the tracing overhead is its
wall over the last pass's. The event log's own cost shows as the first
timed pass's wall (``context.first_wall_s``) against ``wall_s`` of
untraced runs.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import time
import traceback
from contextlib import nullcontext
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from perfbench.stats import tail  # noqa: E402
from perfbench.procstat import (  # noqa: E402
    RssSampler,
    host_cpu_ticks,
    loadavg_1m,
    tree_cpu_s,
)

PID = os.getpid()
ORACLE_TIMEOUT_S = 60


class Ctx:
    """What an op sees: the session, the tracer and the pass's dirs."""

    def __init__(self, spark, tracer):
        self.spark = spark
        self.tracer = tracer
        self.wh_dir: Path | None = None
        self.projects_dir: Path | None = None
        self.op_id = ""

    def group(self, suffix: str) -> None:
        gid = f"{self.op_id}{suffix}"
        self.spark.sparkContext.setJobGroup(gid, gid)

    def run_plan(self, plan, sf_dir: str):
        span = self.tracer.span if self.tracer.active else lambda _name: nullcontext()
        with span("plans.build"):
            self.group(":build")
            df = plan.fn(self.spark, sf_dir)
        with span("plans.action"):
            self.group(":action")
            return df.toArrow()


def setup(t_spawn: float, trace_dir: Path | None, workload: str):
    t_import = time.time()
    from compendium_spark.session import get_session

    if workload == "lifecycle":
        import compendium_spark.cli  # noqa: F401
    else:
        import compendium_spark.plans  # noqa: F401
    # the JVM's own temp files (session artifact dirs) go to the run's
    # TMPDIR. Its heap is committed and touched at start: otherwise how much
    # of it is resident when the peak is sampled depends on GC timing
    heap = os.environ["SPARK_GRAFT_DRIVER_MEM"]
    conf = {
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.environ['TMPDIR']} -Xms{heap} -XX:+AlwaysPreTouch"
        )
    }
    if trace_dir is not None:
        trace_dir.mkdir(parents=True, exist_ok=True)
        conf |= {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": trace_dir.resolve().as_uri(),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        }
    t0 = time.time()
    spark = get_session("perfbench", extra_conf=conf)
    t1 = time.time()
    spark.range(1).count()
    n = spark.sparkContext.defaultParallelism
    spark.range(n, numPartitions=n).mapInPandas(lambda it: it, "id long").collect()
    t2 = time.time()
    return spark, {
        "setup_s": t2 - t_spawn,
        "session.import_s": t0 - t_import,
        "session.start_s": t1 - t_spawn,
        "session.warm_s": t2 - t1,
    }


def floor_sample(spark) -> float:
    """Median wall of three one-task JVM jobs (a Java RDD count: no Python
    worker, no codegen), the scheduling floor every Spark job pays."""
    sc = spark.sparkContext
    sc.setJobGroup("floor", "floor")
    one = sc._jvm.java.util.ArrayList()
    one.add(0)
    xs = []
    for _ in range(3):
        t = time.perf_counter()
        sc._jsc.parallelize(one, 1).count()
        xs.append(time.perf_counter() - t)
    return statistics.median(xs)


def check_output(op, out, err: str | None) -> str | None:
    """The op's error: its exception, a wrong result or a failed check."""
    if err is not None:
        return err
    try:
        return None if op.check(out) else "wrong result"
    except Exception as e:
        return f"check failed: {type(e).__name__}: {e}"[:500]


def run_pass(ctx, ops, k: int, records: list | None, tracer) -> tuple[float, float]:
    """Run every op once; return the pass's wall and CPU seconds, summed
    over the ops. With ``records`` given, each output is checked right
    after its op, outside the op's timed window, and then dropped; a
    warm-up pass (``records=None``) is not checked."""
    wall = cpu = 0.0
    for i, op in enumerate(ops):
        ctx.op_id = f"p{k}:{i}:{op.name}"
        if tracer.active:
            tracer.begin_op(ctx.op_id)
        oc0 = tree_cpu_s(PID)
        ctx.group("")
        s = time.perf_counter()
        err = None
        try:
            out = op.run(ctx)
        except Exception as e:  # a failed op is counted, not fatal
            out, err = None, f"{type(e).__name__}: {e}"[:500]
        dur = time.perf_counter() - s
        oc1 = tree_cpu_s(PID)
        if tracer.active:
            tracer.end_op()
        wall += dur
        cpu += oc1 - oc0
        if records is None:
            continue
        c = time.perf_counter()
        err = check_output(op, out, err)
        del out
        records.append(
            {"pass": k, "op": op.name, "op_id": ctx.op_id, "s": dur, "ok": err is None,
             "err": err, "cpu_s": oc1 - oc0, "idx": i, "check_s": time.perf_counter() - c}
        )
    return wall, cpu


def timed_passes(ctx, ops, seconds, first_k, records, tracer, prepare, min_passes=1):
    """Whole passes until there are ``min_passes`` and their walls add up
    to ``seconds``."""
    walls, cpus = [], []
    k = first_k
    while len(walls) < min_passes or sum(walls) < seconds:
        prepare(k)
        w, c = run_pass(ctx, ops, k, records, tracer)
        walls.append(w)
        cpus.append(c)
        k += 1
    return walls, cpus, k


def main() -> int:
    args = json.loads(sys.argv[1])
    workload, seed, seconds, trace = args["workload"], args["seed"], args["seconds"], args["trace"]
    run_dir = Path(args["run_dir"])
    trace_dir = run_dir / "eventlog" if trace else None
    spark, setup_info = setup(float(os.environ["PERFBENCH_T_SPAWN"]), trace_dir, workload)

    from perfbench import workloads
    from perfbench.trace import StreamingProgress, Tracer, install

    nproc = int(os.environ["SPARK_GRAFT_CPUS"])
    tracer = Tracer()
    ctx = Ctx(spark, tracer)
    g0 = time.perf_counter()
    oracles = None
    if workload == "lifecycle":
        from perfbench.gen_lifecycle import TAXON, generate

        inputs = run_dir / "inputs"
        truth = generate(inputs, seed)
        workloads.install_efetch_stub(inputs)
        ops = workloads.lifecycle_ops(inputs, truth, TAXON)

        def prepare(k):
            ctx.wh_dir, ctx.projects_dir = workloads.fresh_pass_dirs(run_dir, inputs, k)

    else:
        from perfbench.gen_tables import write_tables

        scales = sorted({s for _, s in workloads.PLANS})
        data_dirs = {s: str(run_dir / f"data_{s}") for s in scales}
        for s in scales:
            write_tables(Path(data_dirs[s]), seed, s)
        oracle_out = run_dir / "oracles.json"
        oracle_args = {
            "plans": workloads.PLANS,
            "data_dirs": {repr(s): d for s, d in data_dirs.items()},
            "nproc": nproc,
            "out": str(oracle_out),
        }
        # the DuckDB oracles run beside the untimed warm-up pass
        oracles = subprocess.Popen(
            [sys.executable, str(Path(__file__).with_name("oracle.py")), json.dumps(oracle_args)]
        )
        digests: dict = {}

        def oracle_digest(name, scale):
            d = digests[f"{name}@{scale}"]
            if isinstance(d, dict):
                raise RuntimeError(f"oracle failed: {d['error']}")
            return d

        ops = workloads.plan_ops(data_dirs, oracle_digest)

        def prepare(k):
            return None

    gen_s = time.perf_counter() - g0
    w0 = time.perf_counter()
    if oracles is not None:
        run_pass(ctx, ops, -1, None, tracer)
        try:
            if oracles.wait(timeout=ORACLE_TIMEOUT_S) == 0:
                digests.update(json.loads(oracle_out.read_text()))
        except subprocess.TimeoutExpired:  # every plan check then fails
            oracles.kill()
            oracles.wait()
    warmup_s = time.perf_counter() - w0
    floor_s = floor_sample(spark)

    steal0, tot0 = host_cpu_ticks()
    records: list[dict] = []
    with RssSampler(PID) as rss:
        walls, cpus, k = timed_passes(
            ctx, ops, seconds, 0, records, tracer, prepare, workloads.MIN_PASSES[workload]
        )
    steal1, tot1 = host_cpu_ticks()
    host = {
        "nproc": nproc,
        "steal_frac": (steal1 - steal0) / max(1, tot1 - tot0),
        "load_1m": loadavg_1m(),
        "job_floor_s": floor_s,
        "gen_s": gen_s,
        "warmup_s": warmup_s,
        "passes": len(walls),
        "first_wall_s": walls[0],
    }

    traced = None
    u_records: list[dict] = []
    t_records: list[dict] = []
    if trace:
        # a traced pass, then an untraced one, after the timed passes; the
        # traced one runs first, so JIT warm-up still under way makes
        # their ratio an upper bound on the spans' and listener's overhead
        progress = StreamingProgress(spark, tracer)
        install(tracer)
        tracer.active = True
        t_walls, t_cpus, k = timed_passes(ctx, ops, 0, k, t_records, tracer, prepare)
        tracer.active = False
        u_walls, _, k = timed_passes(ctx, ops, 0, k, u_records, tracer, prepare)
        time.sleep(0.5)  # let the listener bus deliver the last progress events
        traced = (t_records, t_walls, t_cpus, progress.events, progress.run_ops)

    all_records = records + u_records + t_records
    check_s = sum(r["check_s"] for r in all_records)

    lat = [r["s"] for r in records]
    tail_v, tail_p, n = tail(lat)
    failed = sum(1 for r in records if not r["ok"])
    result = {
        "workload": workload,
        "seed": seed,
        "attempted": len(all_records),
        "failed": sum(1 for r in all_records if not r["ok"]),
        "errors": sorted({f"{r['op']}: {r['err']}" for r in all_records if not r["ok"]})[:20],
        "end_to_end": {
            "setup_s": setup_info["setup_s"],
            "wall_s": statistics.median(walls),
            "op_p50_s": statistics.median(lat),
            "op_tail_s": tail_v,
            "cpu_s": statistics.median(cpus),
            "peak_rss_mb": rss.peak / 2**20,
            "error_rate": failed / len(records),
        },
        "tail": {"percentile": tail_p, "samples": n},
        "context": {**host, "check_s": check_s, **setup_info},
        "ops": [{k2: r[k2] for k2 in ("op_id", "s", "ok", "cpu_s")} for r in records],
    }
    if traced:
        spark.stop()  # closes the event log, so the fold sees every event
        from perfbench.layers import layer_metrics

        result["per_layer"], result["trace_ops"], spans = layer_metrics(
            tracer, traced, u_walls, setup_info, host, trace_dir
        )
        (run_dir / "spans.json").write_text(json.dumps(spans))
    (run_dir / "result.json").write_text(json.dumps(result))
    return 0


if __name__ == "__main__":
    try:
        rc = main()
    except Exception:
        traceback.print_exc()
        rc = 3
    # the parent stops the JVM and Python workers with the whole process
    # group; skipping interpreter teardown saves seconds per run
    sys.stderr.flush()
    os._exit(rc)
