"""Command-line surface — the reference's `main.py` dispatch
(`/root/reference/main.py:15-134`) over the Spark warehouse.

Commands:
  init                          idempotent table creation
  xml TAXON FILE                ingest BioSample XML → samples (main.py:25-30)
  tags TAXON FILE               ingest BioSample XML → tags (main.py:31-36)
  runs [--count N] --mock-xml F enrich samples with run metadata (main.py:20-22)
  asvs [--count N]              infer 16S regions for queued projects (main.py:23-24)
  eval PROJECT --summary FILE   QC a completed project, print decision
                                (main.py:90-100; Quirk Q5 fixed — it acts)
  load-results PROJECT --dir D  melt+load a passed project's outputs
                                (projects.py:418-525)
  accessions PROJECT --out F    write SraAccList.txt (K3, projects.py:82-85)
  sources IN OUT                keep/toss source filter (helpers.py)
  runit PROJECT                 initialize + submit a project (main.py:36-45)
  again PROJECT                 resubmit an existing project (main.py:64-71)
  discard PROJECT --reason R    mark failed with reason (main.py:46-63;
                                non-interactive: the y/n prompt becomes --reason)
  forward --projects-dir D      classify + advance completed projects (FORWARD)
  autoforward --projects-dir D  full sweep: advance, then fill capacity
                                with new projects (main.py:113-134)
  status                        state-machine frequency report (main.py:60-66)
  compendium                    compendium report (main.py:101-106)
  summary                       per-project eligible-sample counts
  find-todo [--min N --max N --needed N]  project picker (A1)

Side effects the reference shells out for (git clone, sbatch, tar)
are out of engine scope and stay behind the orchestration boundary.

Each command does its Spark work once. The row counts `xml`, `tags`
and `load-results` print are `Observation` metrics gathered by the
write job itself, never a second action that would re-parse the XML
or re-melt the count matrix; `asvs` runs the region kernel once and
prints from the same collected rows it stores.
"""

from __future__ import annotations

import argparse
import sys
from pathlib import Path

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from compendium_spark.functions.qc import project_disposition, project_qc, sample_qc
from compendium_spark.functions.sources_filter import filter_sources
from compendium_spark.localframe import local_df
from compendium_spark.pipeline import amplicon, orchestrate
from compendium_spark.pipeline.enrichment import (
    UPDATE_FIELDS,
    enrichment_candidates,
    fetch_batches,
    with_batch_ids,
)
from compendium_spark.pipeline.status import (
    compendium_summary,
    eligible_samples,
    find_todo,
    geo_summary,
    status_frequency,
)
from compendium_spark.sources.biosample_xml import read_biosample_xml, to_samples, to_tags
from compendium_spark.sources.fasta import read_fasta
from compendium_spark.sources.tsv import (
    assemble_asv_tables,
    melt_counts,
    read_counts_wide,
    read_countries,
    read_geo_countries,
    read_summary,
    read_taxonomy,
)
from compendium_spark.storage import Warehouse


def _spark() -> SparkSession:
    from compendium_spark.session import get_session  # noqa: PLC0415

    return get_session("compendium_spark_cli")


def _append_counted(wh: Warehouse, name: str, df: DataFrame) -> int:
    """Append ``df`` to table ``name`` and return the rows written,
    counted by an ``Observation`` on the write job itself."""
    obs = Observation()
    wh.append(name, df.observe(obs, F.count(F.lit(1)).alias("rows")))
    return obs.get["rows"]


def cmd_init(wh: Warehouse, args) -> int:
    wh.init_tables()
    print(f"initialized warehouse at {wh.root}")
    return 0


def cmd_plans(wh: Warehouse, args) -> int:
    """List the registered query plans (the engine's operator
    inventory; each is oracle-checked unless marked rows-only)."""
    from compendium_spark.plans import all_plans  # noqa: PLC0415

    for name, p in sorted(all_plans().items()):
        kind = "oracle" if p.oracle is not None else "rows-only"
        first_line = p.doc.splitlines()[0] if p.doc else ""
        print(f"{name}\t{kind}\t{first_line}")
    return 0


def _get_plan(name: str):
    from compendium_spark.plans import all_plans  # noqa: PLC0415

    plans = all_plans()
    if name not in plans:
        raise SystemExit(
            f"unknown plan {name!r}; `compendium_spark plans` lists all "
            f"{len(plans)} registered plans"
        )
    return plans[name]


def cmd_run_plan(wh: Warehouse, args) -> int:
    """Execute one registered plan against a testdata dir and print
    the first rows — the ad-hoc query surface."""
    df = _get_plan(args.plan).fn(wh.spark, args.sf_dir)
    df.show(args.limit, truncate=False)
    return 0


def cmd_explain(wh: Warehouse, args) -> int:
    """Print the optimized physical plan for a registered plan —
    the operator-facing view of pushed filters, join strategies, and
    exchanges (what PLANS_AUDIT.md summarizes in bulk)."""
    df = _get_plan(args.plan).fn(wh.spark, args.sf_dir)
    df.explain("formatted")
    return 0


def cmd_sql(wh: Warehouse, args) -> int:
    """Ad-hoc Spark SQL over the testdata tables (registered as views)
    and the warehouse tables (prefixed `wh_`) — the free-form query
    surface next to the registered plans."""
    from compendium_spark.schemas import ALL_TABLES  # noqa: PLC0415
    from compendium_spark.tables import register_views  # noqa: PLC0415

    register_views(wh.spark, args.sf_dir)
    for name in ALL_TABLES:
        wh.read(name).createOrReplaceTempView(f"wh_{name}")
    wh.spark.sql(args.query).show(args.limit, truncate=False)
    return 0


def cmd_xml(wh: Warehouse, args) -> int:
    parsed = read_biosample_xml(wh.spark, args.file)
    existing = wh.read("samples")
    new = to_samples(parsed, taxon=args.taxon, existing=existing)
    full = new.select(
        "srs",
        F.lit(None).cast("string").alias("project"),
        "taxon",
        F.lit(None).cast("array<string>").alias("srr"),
        F.lit(None).cast("string").alias("library_strategy"),
        F.lit(None).cast("string").alias("library_source"),
        F.lit(None).cast("string").alias("instrument"),
        F.lit(None).cast("timestamp").alias("pubdate"),
        F.lit(None).cast("long").alias("total_bases"),
        F.lit(None).cast("string").alias("geo_loc_name"),
    )
    n = _append_counted(wh, "samples", full)
    print(f"saved {n} new samples")  # db.py:262 tally
    return 0


def cmd_tags(wh: Warehouse, args) -> int:
    parsed = read_biosample_xml(wh.spark, args.file)
    new = to_tags(parsed, existing=wh.read("tags"))
    n = _append_counted(wh, "tags", new)
    print(f"saved tags for new samples: {n} rows")
    return 0


# staged enrichment row, positional: srs, then the fetched fields
_STAGED_COLS = ("srs", *UPDATE_FIELDS)
_STAGED_SCHEMA = (
    "srs string, srr array<string>, project string, library_strategy string, "
    "library_source string, pubdate string, total_bases long, instrument string"
)


def _collapse_staged(staged_rows: list[dict]) -> list[tuple]:
    """One staged row per srs, in fetch order; a later non-null field
    overrides an earlier one, as sequential UPDATEs would. A repeated
    srs would otherwise multiply its sample row in the keyed merge
    (partial_update left-joins the target to the updates)."""
    by_srs: dict[str, dict] = {}
    for d in staged_rows:
        by_srs.setdefault(d["srs"], {}).update(
            (k, v) for k, v in d.items() if v is not None
        )
    return [tuple(d.get(c) for c in _STAGED_COLS) for d in by_srs.values()]


def cmd_runs(wh: Warehouse, args) -> int:
    samples = wh.read("samples")
    cand = enrichment_candidates(samples, count=args.count)
    batched = with_batch_ids(cand, per_query=args.per_query)
    groups: dict[int, list[str]] = {}
    for r in batched.collect():  # ≤count orchestration rows (SURVEY §7.4)
        groups.setdefault(r.batch, []).append(r.srs)
    batches = [groups[k] for k in sorted(groups)]
    if args.mock_xml:
        xml_text = open(args.mock_xml).read()
        fetch = lambda url: xml_text  # noqa: E731
    else:
        import requests  # noqa: PLC0415

        def fetch(url: str) -> str:
            import time  # noqa: PLC0415

            time.sleep(0.5)  # db.py:321 rate limit
            return requests.get(url, timeout=25).text  # config_template.py:30

    staged_rows = _collapse_staged(fetch_batches(batches, fetch))
    if not staged_rows:
        print("no updates fetched")
        return 0
    staged = local_df(wh.spark, staged_rows, _STAGED_SCHEMA).withColumn(
        "pubdate", F.col("pubdate").cast("timestamp")
    )
    # partition-pruned MERGE: rewrites O(touched taxa), never the full
    # samples table (apply_enrichment stays as the frame-level form the
    # emulation tests pin; this is its warehouse-pruned equivalent)
    wh.partial_update(
        "samples", staged.select("srs", *UPDATE_FIELDS), key="srs"
    )
    print(f"updated {len(staged_rows)} samples")
    return 0


def cmd_asvs(wh: Warehouse, args) -> int:
    seqs = wh.read("asv_sequences")
    inference = wh.read("asv_inference")
    todo = amplicon.inference_work_queue(seqs, inference, limit=args.count)
    todo_projects = [r.project for r in todo.collect()]
    if not todo_projects:
        print("no projects to evaluate")
        return 0
    # ≤count rows, one per project: the alignment kernel runs once, and
    # the upsert's own jobs re-read the collected rows, not the kernel
    results = amplicon.infer_regions(
        seqs.filter(F.col("project").isin(todo_projects))
    ).collect()
    wh.upsert(
        "asv_inference",
        local_df(wh.spark, [tuple(r) for r in results], wh.tables["asv_inference"]),
        key="project",
    )
    for r in results:
        print(f"{r.project}: {r.region}, {r.length}")
    return 0


def cmd_eval(wh: Warehouse, args) -> int:
    summ = read_summary(wh.spark, args.summary, project=args.project)
    rows = project_disposition(project_qc(sample_qc(summ))).collect()
    if not rows:
        print(f"Project {args.project}: no samples in {args.summary}")
        return 1
    r = rows[0]
    print(f"Project {r.project}: {r.sample_count} samples, decision={r.decision}")
    for e in r.errors:
        print(f"  {e}")
    return 0


def cmd_load_results(wh: Warehouse, args) -> int:
    d = args.dir.rstrip("/")
    counts = melt_counts(read_counts_wide(wh.spark, f"{d}/ASVs_counts.tsv"))
    fasta = read_fasta(wh.spark, f"{d}/ASVs.fa")
    taxonomy = read_taxonomy(wh.spark, f"{d}/ASVs_taxonomy.tsv")
    seqs, assigns = assemble_asv_tables(fasta, taxonomy, project=args.project)
    n_counts = _append_counted(wh, "asv_counts", counts)
    n_seqs = _append_counted(wh, "asv_sequences", seqs)
    n_assigns = _append_counted(wh, "asv_assignments", assigns)
    # full lifecycle tail (projects.py:525-551): results recorded →
    # complete; archive written → archived; files deleted → done.
    # Without --archive-dir the project stays at 'complete' (the
    # reference's confirm_destruct 'no' path).
    orchestrate.set_project_status(wh, args.project, "complete")
    if args.archive_dir:
        adapters = orchestrate.Adapters(
            probe=lambda p: "done",
            load_summary=lambda p: None,
            archive=orchestrate.tar_archive(str(Path(d).parent), args.archive_dir),
            cleanup=lambda p: None,  # file deletion stays a user decision
        )
        orchestrate.archive_project(wh, args.project, adapters)
    print(
        f"loaded {n_counts} count cells, {n_seqs} sequences, "
        f"{n_assigns} assignments for {args.project}"
    )
    return 0


def cmd_accessions(wh: Warehouse, args) -> int:
    elig = eligible_samples(wh.read("samples"), project=args.project)
    runs = elig.select(F.explode("srr").alias("srr")).distinct().orderBy("srr")
    rows = [r.srr for r in runs.collect()]
    with open(args.out, "w") as f:
        for srr in rows:
            f.write(srr + "\n")  # K3, projects.py:82-85
    print(f"wrote {len(rows)} accessions to {args.out}")
    return 0


def cmd_sources(wh: Warehouse, args) -> int:
    kept = filter_sources(wh.spark, args.infile, args.outfile)
    print(f"kept {kept}")
    return 0


def _adapters(wh: Warehouse, projects_dir: str) -> "orchestrate.Adapters":
    def load_summary(project: str):
        path = f"{projects_dir.rstrip('/')}/{project}/summary.tsv"
        try:
            return read_summary(wh.spark, path, project=project)
        except Exception:
            return None

    return orchestrate.Adapters(
        probe=orchestrate.dir_probe(projects_dir),
        load_summary=load_summary,
        submit=lambda p: print(f"submit {p}"),  # sbatch boundary
        clone=lambda p: print(f"clone pipeline for {p}"),  # git boundary
        prepare_rerun=orchestrate.rerun_file_prep(projects_dir),
    )


def cmd_runit(wh: Warehouse, args) -> int:
    adapters = _adapters(wh, args.projects_dir)
    orchestrate.initialize_pipeline(wh, args.project, adapters)
    orchestrate.run_project(wh, args.project, adapters)
    print(f"{args.project}: running")
    return 0


def cmd_again(wh: Warehouse, args) -> int:
    orchestrate.run_project(wh, args.project, _adapters(wh, args.projects_dir))
    print(f"{args.project}: running")
    return 0


def cmd_discard(wh: Warehouse, args) -> int:
    orchestrate.discard_project(wh, args.project, args.reason)
    print(f"{args.project}: failed ({args.reason})")
    return 0


def cmd_forward(wh: Warehouse, args) -> int:
    adapters = _adapters(wh, args.projects_dir)
    done, running, not_done = orchestrate.determine_projects(wh, adapters)
    print(f"done: {done}\nrunning: {running}\nnot done: {not_done}")
    decisions = orchestrate.advance_projects(wh, done, adapters, auto=False)
    for p, d in decisions.items():
        print(f"{p}: {d}")
    return 0


def cmd_autoforward(wh: Warehouse, args) -> int:
    result = orchestrate.autoforward(
        wh,
        _adapters(wh, args.projects_dir),
        max_projects=args.max_projects,
    )
    print(
        f"{len(result['running'] + result['not_done'])} projects running. "
        f"Starting {len(result['launched'])} additional projects: "
        f"{result['launched']}"
    )
    return 0


def cmd_load_countries(wh: Warehouse, args) -> int:
    """Populate the geo dimension tables (ref `db.py:104-117` defines
    them but ships no loader). Idempotent keyed upserts."""
    geo = read_geo_countries(wh.spark, args.geo_locs)
    countries = read_countries(wh.spark, args.countries)
    wh.upsert("geo_loc_countries", geo, key="geo_loc_name")
    wh.upsert("countries", countries, key="iso2")
    print(
        f"loaded {geo.count()} geo_loc mappings, {countries.count()} countries"
    )
    return 0


def cmd_geo(wh: Warehouse, args) -> int:
    rows = geo_summary(
        wh.read("samples"), wh.read("geo_loc_countries"), wh.read("countries")
    ).collect()
    for r in rows:
        print(f"{r.region}\t{r.country}\t{r.n_samples}\t{r.n_projects}")
    return 0


def cmd_status(wh: Warehouse, args) -> int:
    for r in status_frequency(wh.read("status")).collect():
        print(f"{r.status}\t{r.n_projects}")
    return 0


def cmd_compendium(wh: Warehouse, args) -> int:
    r = compendium_summary(wh.read("samples"), wh.read("asv_counts")).collect()[0]
    print(f"projects: {r.n_projects}")
    print(f"samples: {r.n_samples}")
    print(f"samples with results: {r.n_result_samples}")
    print(f"ASVs: {r.n_asvs}")
    return 0


def cmd_summary(wh: Warehouse, args) -> int:
    counts = (
        eligible_samples(wh.read("samples"))
        .groupBy("project")
        .agg(F.count(F.lit(1)).alias("samples"))
        .orderBy(F.desc("samples"), "project")
    )
    for r in counts.collect():
        print(f"{r.project}\t{r.samples}")
    return 0


def cmd_progress(wh: Warehouse, args) -> int:
    """Per-project pipeline-stage report — the reference's
    Report_progress (projects.py:156-198): DONE! / CURRENTLY RUNNING
    banners, per-stage filesystem checks, one arrow at the earliest
    failure. Exit code 0 when done, 1 otherwise (the reference returns
    True/False the autoforward loop branches on)."""
    report = orchestrate.progress_report(args.projects_dir, args.project)
    print(orchestrate.render_progress(report))
    return 0 if report["done"] else 1


def cmd_find_todo(wh: Warehouse, args) -> int:
    todo = find_todo(
        wh.read("samples"),
        wh.read("status"),
        min_samples=args.min,
        max_samples=args.max,
        needed=args.needed,
    )
    for r in todo.collect():
        print(f"{r.project}\t{r.samples}")
    return 0


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="compendium_spark")
    p.add_argument("--warehouse", default="./warehouse", help="warehouse directory")
    sub = p.add_subparsers(dest="command", required=True)

    sub.add_parser("init")
    x = sub.add_parser("xml")
    x.add_argument("taxon")
    x.add_argument("file")
    t = sub.add_parser("tags")
    t.add_argument("taxon")
    t.add_argument("file")
    r = sub.add_parser("runs")
    r.add_argument("--count", type=int, default=2000)  # main.py:21
    r.add_argument("--per-query", type=int, default=80)  # main.py:22
    r.add_argument("--mock-xml", default=None)
    a = sub.add_parser("asvs")
    a.add_argument("--count", type=int, default=100)  # main.py:24
    e = sub.add_parser("eval")
    e.add_argument("project")
    e.add_argument("--summary", required=True)
    lr = sub.add_parser("load-results")
    lr.add_argument("project")
    lr.add_argument("--dir", required=True)
    lr.add_argument("--archive-dir", default=None)  # projects.py:530-551
    ac = sub.add_parser("accessions")
    ac.add_argument("project")
    ac.add_argument("--out", required=True)
    so = sub.add_parser("sources")
    so.add_argument("infile")
    so.add_argument("outfile")
    ru = sub.add_parser("runit")
    ru.add_argument("project")
    ru.add_argument("--projects-dir", default="./projects")
    ag = sub.add_parser("again")
    ag.add_argument("project")
    ag.add_argument("--projects-dir", default="./projects")
    di = sub.add_parser("discard")
    di.add_argument("project")
    di.add_argument("--reason", required=True)  # main.py:57-59
    fw = sub.add_parser("forward")
    fw.add_argument("--projects-dir", default="./projects")
    af = sub.add_parser("autoforward")
    af.add_argument("--projects-dir", default="./projects")
    af.add_argument("--max-projects", type=int, default=8)  # config_template.py:17
    sub.add_parser("plans")
    rp = sub.add_parser("run")
    rp.add_argument("plan")
    rp.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    rp.add_argument("--limit", type=int, default=20)
    ex = sub.add_parser("explain")
    ex.add_argument("plan")
    ex.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    sq = sub.add_parser("sql")
    sq.add_argument("query")
    sq.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    sq.add_argument("--limit", type=int, default=20)
    lc = sub.add_parser("load-countries")
    lc.add_argument("--geo-locs", required=True)
    lc.add_argument("--countries", required=True)
    sub.add_parser("geo")
    sub.add_parser("status")
    sub.add_parser("compendium")
    sub.add_parser("summary")
    pg = sub.add_parser("progress")
    pg.add_argument("project")
    pg.add_argument("--projects-dir", default="./projects")
    ft = sub.add_parser("find-todo")
    ft.add_argument("--min", type=int, default=50)  # management.py:90
    ft.add_argument("--max", type=int, default=10000)
    ft.add_argument("--needed", type=int, default=None)
    return p


COMMANDS = {
    "init": cmd_init,
    "xml": cmd_xml,
    "tags": cmd_tags,
    "runs": cmd_runs,
    "asvs": cmd_asvs,
    "eval": cmd_eval,
    "load-results": cmd_load_results,
    "accessions": cmd_accessions,
    "sources": cmd_sources,
    "runit": cmd_runit,
    "again": cmd_again,
    "discard": cmd_discard,
    "forward": cmd_forward,
    "autoforward": cmd_autoforward,
    "plans": cmd_plans,
    "run": cmd_run_plan,
    "explain": cmd_explain,
    "sql": cmd_sql,
    "load-countries": cmd_load_countries,
    "geo": cmd_geo,
    "status": cmd_status,
    "compendium": cmd_compendium,
    "summary": cmd_summary,
    "find-todo": cmd_find_todo,
    "progress": cmd_progress,
}


def main(argv: list[str] | None = None, spark: SparkSession | None = None) -> int:
    args = build_parser().parse_args(argv)
    wh = Warehouse(spark or _spark(), args.warehouse)
    return COMMANDS[args.command](wh, args)


if __name__ == "__main__":
    sys.exit(main())
