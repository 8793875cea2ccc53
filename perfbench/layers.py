"""Per-layer metrics of a traced run, averaged per traced pass.

Inputs: the tracer's spans and counters, the event log folded per job
group, the streaming listener's progress events and the run's host
context. Every metric named in ``BENCHMARK.json``'s ``per_layer`` is
produced for every workload; a layer that does no work reads 0.
"""

from __future__ import annotations

import os
import statistics
from collections import defaultdict
from pathlib import Path

from perfbench.eventlog import fold_dir


def _self_times(spans) -> list[float]:
    child = [0.0] * len(spans)
    for s in spans:
        if s.parent >= 0:
            child[s.parent] += s.end - s.start
    return [s.end - s.start - c for s, c in zip(spans, child)]


def _tree_bytes(roots) -> tuple[int, int]:
    size = files = 0
    for r in roots:
        for dirpath, _d, fs in os.walk(r):
            for f in fs:
                if f.endswith(".parquet"):
                    files += 1
                try:
                    size += os.path.getsize(os.path.join(dirpath, f))
                except OSError:
                    pass
    return size, files


def layer_metrics(tracer, traced, untraced_walls, setup_info, host, trace_dir):
    records, walls, _cpus, progress, run_ops = traced
    passes = len(walls)
    wall = statistics.median(walls)
    nproc = host["nproc"]
    folded = fold_dir(Path(trace_dir))
    spans = tracer.spans
    selfs = _self_times(spans)
    m: dict[str, float] = defaultdict(float)

    # spans: inclusive time of each layer's outermost spans, self time of the rest
    op_wall: dict[str, float] = {}
    op_children: dict[str, float] = defaultdict(float)
    for s, st in zip(spans, selfs):
        dur = s.end - s.start
        if s.name == "op":
            op_wall[s.op] = dur
            continue
        if spans[s.parent].name == "op":
            op_children[s.op] += dur
        layer = s.name
        if s.top:
            m[f"_incl.{layer}"] += dur
            m[f"_calls.{layer}"] += 1
        m[f"_self.{layer}"] += st

    c: dict[str, float] = defaultdict(float)
    for op_id, cnt in tracer.counters.items():
        if op_id.startswith("_"):
            continue
        for k, v in cnt.items():
            c[k] += v

    # event log, per op and phase
    ev: dict[str, float] = defaultdict(float)
    asvs_ev: dict[str, float] = defaultdict(float)
    op_ev: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    eager_jobs = 0.0
    traced_ids = {r["op_id"] for r in records}
    for gid, vals in folded.items():
        # a streaming query's jobs run under its runId as job group
        op_id = run_ops.get(gid, gid)
        if op_id.endswith((":build", ":action")):
            op_id = op_id.rsplit(":", 1)[0]
        if op_id not in traced_ids:
            continue
        for k, v in vals.items():
            ev[k] += v
            op_ev[op_id][k] += v
            if op_id.split(":", 2)[-1] == "asvs":
                asvs_ev[k] += v
        if gid.endswith(":build"):
            eager_jobs += vals["spark.jobs"]

    asvs = [r for r in records if r["op"] == "asvs"]
    asvs_wall = sum(r["s"] for r in asvs)
    asvs_cpu = sum(r["cpu_s"] for r in asvs)
    batch_s = [e["duration_s"] for e in progress if e["batch"] is not None]
    stream_rows = sum(e["rows"] for e in progress)
    roots = list(tracer.counters.get("_roots", {}))
    final_bytes, final_files = _tree_bytes(roots)
    wh_written = c["storage.bytes_written"]
    considered = c["vwh.files_considered"]

    per = {
        "session.start_s": setup_info["session.start_s"],
        "session.warm_s": setup_info["session.warm_s"],
        "plans.build_s": m["_incl.plans.build"] / passes,
        "plans.action_s": m["_incl.plans.action"] / passes,
        "plans.eager_jobs": eager_jobs / passes,
        "tables.gate_calls": m["_calls.tables.gate"] / passes,
        "tables.gate_s": m["_incl.tables.gate"] / passes,
        "tables.load_s": m["_incl.tables.load"] / passes,
        "spark.jobs": ev["spark.jobs"] / passes,
        "spark.stages": ev["spark.stages"] / passes,
        "spark.tasks": ev["spark.tasks"] / passes,
        "spark.job_floor_s": host["job_floor_s"],
        "spark.floor_share": ev["spark.jobs"] / passes * host["job_floor_s"] / wall,
        "spark.executor_run_s": ev["spark.executor_run_s"] / passes,
        "spark.executor_cpu_s": ev["spark.executor_cpu_s"] / passes,
        "spark.cpu_util": ev["spark.executor_cpu_s"] / passes / (wall * nproc),
        "spark.shuffle_write_bytes": ev["spark.shuffle_write_bytes"] / passes,
        "spark.shuffle_read_bytes": ev["spark.shuffle_read_bytes"] / passes,
        "spark.input_bytes": ev["spark.input_bytes"] / passes,
        "spark.failed_tasks": ev["spark.failed_tasks"] / passes,
        "pyworker.run_s": ev["pyworker.run_s"] / passes,
        "pyworker.init_s": ev["pyworker.init_s"] / passes,
        "pyworker.bytes_sent": ev["pyworker.bytes_sent"] / passes,
        "pyworker.bytes_returned": ev["pyworker.bytes_returned"] / passes,
        "pyworker.tasks": ev["pyworker.tasks"] / passes,
        "sources.parse_s": m["_incl.sources.parse"] / passes,
        "sources.rows": c["sources.rows"] / passes,
        "sources.bytes_in": c["sources.bytes_in"] / passes,
        "enrichment.batches": c["enrichment.batches"] / passes,
        "enrichment.fetch_parse_s": m["_incl.enrichment.fetch_parse"] / passes,
        "enrichment.rows_staged": c["enrichment.rows_staged"] / passes,
        "qc.eval_s": m["_self.orchestrate.advance_projects"] / passes,
        "qc.samples": c["qc.samples"] / passes,
        "orchestrate.advance_s": sum(
            v for k, v in m.items() if k.startswith("_incl.orchestrate.")
        ) / passes,
        "orchestrate.decisions": c["orchestrate.decisions"] / passes,
        "amplicon.infer_s": asvs_ev["pyworker.run_s"] / passes,
        "amplicon.asvs": c["amplicon.asvs"] / passes,
        "amplicon.tasks": asvs_ev["pyworker.tasks"] / passes,
        "amplicon.cpu_util": asvs_cpu / (asvs_wall * nproc) if asvs_wall else 0.0,
        "storage.writes": m["_calls.storage.write"] / passes,
        "storage.write_s": m["_incl.storage.write"] / passes,
        "storage.read_s": m["_incl.storage.read"] / passes,
        "storage.bytes_written": wh_written / passes,
        "storage.write_amp": wh_written / final_bytes if final_bytes and wh_written else 0.0,
        "storage.files": float(final_files) if wh_written else 0.0,
        "vwh.commits": m["_calls.vwh.commit"] / passes,
        "vwh.commit_s": m["_incl.vwh.commit"] / passes,
        "vwh.bytes_written": c["vwh.bytes_written"] / passes,
        "vwh.skip_ratio": c["vwh.files_skipped"] / considered if considered else 0.0,
        "vwh.conflicts": c["vwh.conflicts"] / passes,
        "streaming.microbatches": len(batch_s) / passes,
        "streaming.batch_p50_s": statistics.median(batch_s) if batch_s else 0.0,
        "streaming.rows_per_s": stream_rows / sum(batch_s) if sum(batch_s) else 0.0,
        "streaming.state_rows": max((e["state_rows"] for e in progress), default=0),
        "host.steal_frac": host["steal_frac"],
        "host.load": host["load_1m"],
        "trace.overhead_frac": wall / statistics.median(untraced_walls) - 1.0,
        "trace.book_s": tracer.book_s / passes,
    }

    # each op's remainder: wall not covered by a layer span or hook bookkeeping
    trace_ops = []
    for r in records:
        oid = r["op_id"]
        w = op_wall.get(oid, r["s"])
        book = tracer.counters.get(oid, {}).get("trace.book_s", 0.0)
        trace_ops.append(
            {
                "op_id": oid,
                "s": r["s"],
                "ok": r["ok"],
                "unattributed_s": max(0.0, w - op_children[oid] - book),
                **{k: v for k, v in op_ev[oid].items() if v},
            }
        )
    per["trace.unattributed_s"] = sum(t["unattributed_s"] for t in trace_ops) / passes
    span_dump = [
        {"name": s.name, "start": s.start, "end": s.end, "parent": s.parent, "op": s.op,
         "self_s": st}
        for s, st in zip(spans, selfs)
    ]
    return per, trace_ops, span_dump
