"""The two workloads: their ops, inputs and output checks.

An op is one CLI command (``lifecycle``) or one registry plan run to
``toArrow()``, which materializes every output column (the plan
workloads). Each workload is a fixed, ordered list of ops; one pass
runs them all once.
"""

from __future__ import annotations

import contextlib
import io
import shutil
from dataclasses import dataclass
from pathlib import Path
from typing import Callable

# The ``plans`` workload runs these registry plans in this order, each as
# (name, scale) with scale 1.0 being sf0.1 (17 MB). A run makes one
# untimed warm-up pass and two timed passes over the list, so the list
# is kept to what fits the run's time: every plan here costs about
# 1-6 s cold plus two warm runs.
#
# Plans spending no time in Python workers, one per plan module.
JVM_PLANS: list[tuple[str, float]] = [
    ("q3_shipping_priority", 1.0),
    ("q6_forecast_revenue", 1.0),
    ("j2_anti_join", 1.0),
    ("a1_group_count_range_pick", 1.0),
    ("p1_ordered_key_scan", 1.0),
    ("w8_ntile_bands", 1.0),
    ("f_date_functions", 1.0),
    ("o2_stratified_deterministic", 1.0),
    ("text_token_count", 1.0),
    ("ts_seasonal_decompose", 1.0),
]
# Plans whose Spark jobs run Python workers (pandas/Arrow UDFs).
PY_PLANS: list[tuple[str, float]] = [
    ("cluster_kmeans", 1.0),
    ("emb_covariance", 1.0),
    ("dedup_semdedup", 1.0),
]
# A VersionedWarehouse round-trip (commits, compaction and vacuum; its
# fixture ignores the scale) and streaming microbatches over sf0.01
# events (stateful dedup, foreachBatch MERGE).
INCREMENTAL_PLANS: list[tuple[str, float]] = [
    ("sink_compaction_roundtrip", 1.0),
    ("streaming_dedup", 0.1),
    ("streaming_mv_refresh", 0.1),
]
PLANS = JVM_PLANS + PY_PLANS + INCREMENTAL_PLANS

# Timed passes a run makes at least. A lifecycle pass builds a warehouse
# from nothing, so one is the measurement. In one plan pass of 16 ops the
# highest percentile with 10 ops beyond it is p37.5, below the median;
# two passes give 32 samples and p68.8.
MIN_PASSES = {"lifecycle": 1, "plans": 2}


@dataclass
class Op:
    name: str
    run: Callable  # (ctx) -> output
    check: Callable  # (output) -> bool


# -- plan workloads ------------------------------------------------------------


def plan_ops(data_dirs: dict[float, str], oracle_digest: Callable) -> list[Op]:
    from compendium_spark.plans import all_plans

    plans = all_plans()
    ops = []
    for name, scale in PLANS:
        p = plans[name]
        sf_dir = data_dirs[scale]

        def run(ctx, p=p, sf_dir=sf_dir):
            return ctx.run_plan(p, sf_dir)

        def check(table, name=name, scale=scale):
            from perfbench.check import table_digest

            return table_digest(table) == oracle_digest(name, scale)

        ops.append(Op(f"{name}@{scale}", run, check))
    return ops


# -- lifecycle ------------------------------------------------------------------


def _cli(ctx, argv: list[str]) -> str:
    from compendium_spark.cli import main

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        rc = main(["--warehouse", str(ctx.wh_dir), *argv], spark=ctx.spark)
    if rc != 0:
        raise RuntimeError(f"{argv[0]} exited {rc}")
    return buf.getvalue()


def _pairs(text: str, sep: str) -> dict[str, str]:
    out = {}
    for line in text.splitlines():
        if sep in line:
            k, v = line.split(sep, 1)
            out[k.strip()] = v.strip()
    return out


def lifecycle_ops(inputs: Path, truth, taxon: str) -> list[Op]:
    xml = str(inputs / "biosample.xml")
    projects = sorted(truth.decisions)
    saved = [p for p in projects if truth.decisions[p] == "save"]
    ops = [
        Op("init", lambda c: _cli(c, ["init"]), lambda o: "initialized warehouse" in o),
        Op(
            "xml",
            lambda c: _cli(c, ["xml", taxon, xml]),
            lambda o: f"saved {truth.samples_saved} new samples" in o,
        ),
        Op(
            "tags",
            lambda c: _cli(c, ["tags", taxon, xml]),
            lambda o: f"saved tags for new samples: {truth.tag_rows} rows" in o,
        ),
        Op(
            "runs",
            lambda c: _cli(c, ["runs", "--mock-xml", str(inputs / "efetch" / "unused.xml")]),
            lambda o: f"updated {truth.samples_updated} samples" in o,
        ),
    ]
    for p in projects:
        ops.append(
            Op(
                f"runit:{p}",
                lambda c, p=p: _cli(c, ["runit", p, "--projects-dir", str(c.projects_dir)]),
                lambda o, p=p: f"{p}: running" in o,
            )
        )
    ops.append(
        Op(
            "forward",
            lambda c: _cli(c, ["forward", "--projects-dir", str(c.projects_dir)]),
            lambda o: {k: v for k, v in _pairs(o, ": ").items() if k in truth.decisions}
            == truth.decisions,
        )
    )
    for p in saved:
        want = (
            f"loaded {truth.count_cells[p]} count cells, {truth.n_sequences[p]} sequences, "
            f"{truth.n_sequences[p]} assignments for {p}"
        )
        ops.append(
            Op(
                f"load-results:{p}",
                lambda c, p=p: _cli(c, ["load-results", p, "--dir", str(c.projects_dir / p)]),
                lambda o, want=want: want in o,
            )
        )

    def asvs_ok(o: str) -> bool:
        got = {k: v.split(",")[0] for k, v in _pairs(o, ": ").items()}
        return got == truth.regions

    def compendium_ok(o: str) -> bool:
        got = _pairs(o, ": ")
        return got == {
            "projects": str(truth.n_projects),
            "samples": str(truth.samples_saved),
            "samples with results": str(truth.n_result_samples),
            "ASVs": str(truth.n_asvs),
        }

    ops += [
        Op("asvs", lambda c: _cli(c, ["asvs"]), asvs_ok),
        Op(
            "status",
            lambda c: _cli(c, ["status"]),
            lambda o: _pairs(o, "\t") == {k: str(v) for k, v in truth.status_freq.items()},
        ),
        Op("compendium", lambda c: _cli(c, ["compendium"]), compendium_ok),
        Op(
            "summary",
            lambda c: _cli(c, ["summary"]),
            lambda o: _pairs(o, "\t") == {k: str(v) for k, v in truth.eligible.items()},
        ),
    ]
    return ops


def install_efetch_stub(inputs: Path) -> object:
    """Make ``cli.cmd_runs`` answer each eUtils batch from ``EFetchStub``.

    ``cmd_runs`` builds one fetch for all batches from ``--mock-xml``;
    the stub replaces that fetch at the ``fetch_batches`` call, looking
    ``fetch_batches`` up in its module on every call so spans installed
    there still see it.
    """
    import compendium_spark.cli as cli
    import compendium_spark.pipeline.enrichment as enrichment

    from perfbench.gen_lifecycle import EFetchStub

    stub = EFetchStub(inputs / "efetch")
    (inputs / "efetch" / "unused.xml").write_text("<unused/>")
    cli.fetch_batches = lambda batches, _fetch: enrichment.fetch_batches(batches, stub)
    return stub


def fresh_pass_dirs(run_dir: Path, inputs: Path, k: int) -> tuple[Path, Path]:
    """A new warehouse and a fresh copy of the projects dir for pass ``k``
    (``forward`` renames files inside project dirs)."""
    wh = run_dir / f"warehouse{k}"
    proj = run_dir / f"projects{k}"
    shutil.copytree(inputs / "projects", proj)
    return wh, proj
