"""Orchestration sweep: the reference's project lifecycle commands
(`/root/reference/main.py:36-134`, `management.py:8-66`,
`projects.py:108-135/408-415/554-571`) over the Spark warehouse.

Side effects (git clone, sbatch, filesystem probes) are injected as
`Adapters` callables — the engine stays pure DataFrame transforms and
the orchestration loop touches at most `max_projects` driver-side rows
(SURVEY §7.4: collect() only for ≤max_projects orchestration rows).

The `status` control table is read and committed on the driver
(`Warehouse.read_arrow`, an Arrow `Warehouse.write`): a transition,
the pairedness check and the non-terminal listing start no Spark job.
The QC sweep and the report queries stay Spark jobs.
"""

from __future__ import annotations

import shutil
from collections.abc import Callable
from dataclasses import dataclass, field
from functools import reduce
from pathlib import Path

from pyspark.sql import DataFrame

from compendium_spark.functions.qc import project_disposition, project_qc, sample_qc
from compendium_spark.pipeline.status import (
    apply_transitions,
    find_todo,
    non_terminal_projects,
)
from compendium_spark.storage import Warehouse

MAX_PROJECTS = 8  # config_template.py:17


def _noop(*_args, **_kw) -> None:
    return None


@dataclass
class Adapters:
    """Injection points for everything the reference shells out for.

    probe(project) -> 'done' | 'running' | 'not_done'
        (`projects.py:137-154`: result files exist? running.txt exists?)
    submit(project): sbatch stand-in (`projects.py:127-135`)
    clone(project): git-clone stand-in (`projects.py:121`)
    load_summary(project) -> DataFrame | None: summary.tsv for a done
        project (`projects.py:203-231`)
    prepare_rerun(project): single-end re-run file prep — remove
        previous DADA outputs + reverse reads (`projects.py:331-380`);
        see rerun_file_prep for the real-filesystem form
    archive(project): result archive sink, the reference's tar.gz
        (`projects.py:530-548`, SURVEY K5); see tar_archive
    cleanup(project): delete pipeline files after archiving
        (`projects.py:550-551`)
    """

    probe: Callable[[str], str]
    load_summary: Callable[[str], DataFrame | None]
    submit: Callable[[str], None] = field(default=_noop)
    clone: Callable[[str], None] = field(default=_noop)
    prepare_rerun: Callable[[str], None] = field(default=_noop)
    archive: Callable[[str], None] = field(default=_noop)
    cleanup: Callable[[str], None] = field(default=_noop)

# Files produced by a previous DADA2 attempt, removed before a re-run
# (`projects.py:358-371`). fastq/ extractions are NOT in this list.
_DADA_OUTPUTS = (
    "filtered_out.rds",
    "forward_error_model.pdf",
    "reverse_error_model.pdf",
    "err_forward_reads.rds",
    "err_reverse_reads.rds",
    "ASV.tsv",
    "asv.rds",
    "ASVs.fa",
    "ASVs_counts.tsv",
    "ASVs_taxonomy.tsv",
)


def rerun_file_prep(projects_dir: str) -> Callable[[str], None]:
    """Real-filesystem prepare_rerun adapter mirroring the reference's
    `_remove_previous_dada` + `_remove_reverse_reads`
    (`projects.py:331-380`, unit-tested at tests/projects_test.py:16-53):
    delete prior DADA2 outputs and the intermediate/ dir, keep the old
    summary via the rename chain summary.tsv → previous_summary.tsv →
    previous_previous_summary.tsv, then drop the reverse-read files so
    the next attempt runs single-ended."""

    def prep(project: str) -> None:
        if not project:
            raise ValueError(f"project id value is unexpected: {project!r}")
        d = Path(projects_dir) / project
        # _remove_previous_dada (projects.py:344-380)
        shutil.rmtree(d / "intermediate", ignore_errors=True)
        for name in _DADA_OUTPUTS:
            (d / name).unlink(missing_ok=True)
        if (d / "previous_summary.tsv").exists():
            (d / "previous_summary.tsv").rename(
                d / "previous_previous_summary.tsv"
            )
        if (d / "summary.tsv").exists():
            (d / "summary.tsv").rename(d / "previous_summary.tsv")
        # _remove_reverse_reads (projects.py:331-342)
        for f in (d / "fastq").glob("*_2.fastq"):
            f.unlink(missing_ok=True)

    return prep


def tar_archive(projects_dir: str, archive_dir: str) -> Callable[[str], None]:
    """Archive adapter: tar.gz the project's result files (the
    reference archives logs + ASV outputs, `projects.py:530-548`) and
    verify the archive landed before the caller advances the status."""
    import tarfile

    def archive(project: str) -> None:
        d = Path(projects_dir) / project
        out = Path(archive_dir) / f"{project}.tar.gz"
        out.parent.mkdir(parents=True, exist_ok=True)
        with tarfile.open(out, "w:gz") as tf:
            for f in sorted(d.rglob("*")):
                if f.is_file():
                    tf.add(f, arcname=str(f.relative_to(d.parent)))
        if not out.exists():  # projects.py:546-548
            raise RuntimeError(f"archive of project {project} not found")

    return archive


def dir_probe(projects_dir: str) -> Callable[[str], str]:
    """Filesystem probe mirroring the reference's checks: a project is
    done when its summary.tsv exists, running while running.txt exists,
    otherwise not_done (`projects.py:137-154`)."""

    def probe(project: str) -> str:
        d = Path(projects_dir) / project
        if (d / "summary.tsv").exists():
            return "done"
        if (d / "running.txt").exists():
            return "running"
        return "not_done"

    return probe


def _write_transitions(wh: Warehouse, rows: list[tuple]) -> None:
    """Apply any number of transition rows
    (``status.TRANSITION_FIELDS``) in ONE rewrite of the status table,
    computed and committed on the driver (``apply_transitions``, then
    an Arrow ``wh.write``). Every status transition of the lifecycle
    goes through here."""
    wh.write("status", apply_transitions(wh.read_arrow("status"), rows))


def set_project_status(
    wh: Warehouse, project: str, status: str, note1: str | None = None,
    note2: str | None = None,
) -> None:
    """One state-machine transition (`projects.py:87-106`): only status
    and any provided notes change — rerun_as_single_end, paired, and
    unmentioned notes keep their values. A new project inserts with
    rerun_as_single_end=0."""
    _write_transitions(wh, [(project, status, None, note1, note2)])


def initialize_pipeline(wh: Warehouse, project: str, adapters: Adapters) -> None:
    """`projects.py:108-125`: register the project and stage its
    pipeline checkout (clone injected)."""
    set_project_status(wh, project, "initialized")
    adapters.clone(project)
    set_project_status(wh, project, "accession_list_created")


def run_project(wh: Warehouse, project: str, adapters: Adapters) -> None:
    """`projects.py:127-135`: submit (injected sbatch) → running."""
    adapters.submit(project)
    set_project_status(wh, project, "running")


def discard_project(wh: Warehouse, project: str, reason: str) -> None:
    """`projects.py:408-415`: status=failed, reason recorded; the
    rmtree of pipeline outputs stays outside the engine."""
    set_project_status(wh, project, "failed", note1=reason)


def _refuse_unpaired(unpaired: list[str]) -> None:
    """`projects.py:315-317`: a project whose stored results are
    single-ended (paired = 0) cannot be re-run as single-end."""
    if unpaired:
        raise ValueError(
            f"cannot re-run {', '.join(sorted(unpaired))} as single-end; "
            f"it wasn't paired-end"
        )


def _rerun(
    adapters: Adapters, project: str, note1: str | None, auto: bool
) -> tuple:
    """Rerun_as_single_end's side effects — file prep, then (auto)
    resubmit — and its whole transition as one row: the flag, the note
    and the status land together (to_re_run, or running once
    resubmitted)."""
    adapters.prepare_rerun(project)
    if auto:
        adapters.submit(project)
    return (project, "running" if auto else "to_re_run", 1, note1, None)


def rerun_single_end(
    wh: Warehouse, project: str, adapters: Adapters,
    note1: str | None = None, auto: bool = True,
) -> None:
    """`projects.py:313-329` Rerun_as_single_end: refuse if the project
    is known single-ended, prep the files (remove previous DADA outputs
    + reverse reads — injected, rerun_file_prep for the real form), and
    (auto) resubmit; then one status write sets rerun_as_single_end=1,
    the note, and the status (to_re_run, or running when resubmitted).
    """
    stored = wh.read_arrow("status").to_pylist()
    _refuse_unpaired([project for r in stored if r["project"] == project and r["paired"] == 0])
    _write_transitions(wh, [_rerun(adapters, project, note1, auto)])


def archive_project(wh: Warehouse, project: str, adapters: Adapters) -> None:
    """`projects.py:525-551`: complete → archived → done. The archive
    sink (tar.gz, SURVEY K5) and the file deletion are injected; each
    status only advances after its side effect succeeded, so a failed
    archive leaves the project at 'complete' exactly like the
    reference's existence check."""
    adapters.archive(project)
    set_project_status(wh, project, "archived")
    adapters.cleanup(project)
    set_project_status(wh, project, "done")


def determine_projects(
    wh: Warehouse, adapters: Adapters
) -> tuple[list[str], list[str], list[str]]:
    """`management.py:8-39`: classify every non-terminal project via
    the injected filesystem probe → (done, running, not_done)."""
    done, running, not_done = [], [], []
    for p in non_terminal_projects(wh.read_arrow("status")):
        {"done": done, "running": running, "not_done": not_done}[
            adapters.probe(p)
        ].append(p)
    return done, running, not_done


def advance_projects(
    wh: Warehouse, done: list[str], adapters: Adapters, auto: bool = False
) -> dict[str, str]:
    """`management.py:56-66` + REACT (`projects.py:554-571`): QC every
    completed project and take its transition — discard → failed,
    re_run → to_re_run (+ resubmit → running under ``auto``), else
    complete. Returns the decision per project for reporting.

    One batched sweep, not a loop of per-project jobs and writes:
      * the done projects' summaries are unioned and QC'd in one
        ``collect``; a summary with no rows yields no decision;
      * every re-run is checked against the stored pairedness (read
        on the driver) first, so a
        refused single-end re-run raises before ANY project's files
        or status change (all-or-nothing; a per-project loop would
        already have committed the projects before it);
      * the file side effects (``prepare_rerun``, ``submit``) then run
        per project, in ``done`` order;
      * all transitions land in ONE driver-side status commit instead
        of N sequential ones. A re-run row carries status, note1 and
        rerun_as_single_end=1 together, so under ``auto=True`` the
        transient ``to_re_run`` status is never persisted before
        ``running``; final status, note and flag are those of the
        per-project helpers.
    """
    summaries = [
        s for s in (adapters.load_summary(p) for p in done) if s is not None
    ]
    if not summaries:
        return {}
    summary = reduce(DataFrame.unionByName, summaries)
    disp = {
        r.project: r
        for r in project_disposition(project_qc(sample_qc(summary)))
        .select("project", "decision", "errors")
        .collect()
    }
    decisions = {p: disp[p].decision for p in done if p in disp}
    paired = {r["project"]: r["paired"] for r in wh.read_arrow("status").to_pylist()}
    _refuse_unpaired(
        [p for p, d in decisions.items() if d == "re_run" and paired.get(p) == 0]
    )
    rows = []
    for project, decision in decisions.items():
        note = "; ".join(disp[project].errors)
        if decision == "discard":
            rows.append((project, "failed", None, note, None))
        elif decision == "re_run":
            rows.append(_rerun(adapters, project, note, auto))
        else:
            rows.append((project, "complete", None, None, None))
    if rows:
        _write_transitions(wh, rows)
    return decisions


def autoforward(
    wh: Warehouse,
    adapters: Adapters,
    max_projects: int = MAX_PROJECTS,
    max_samples: int = 1000,
    seed: int = 42,
) -> dict:
    """`main.py:113-134`: advance completed projects, then fill free
    capacity with new ones from the A1 picker (find_todo; the
    reference's tuple-membership bug Q3 fixed by a real anti-join)."""
    done, running, not_done = determine_projects(wh, adapters)
    decisions = advance_projects(wh, done, adapters, auto=True)
    tostart = max_projects - len(running + not_done)
    launched: list[str] = []
    if tostart > 0:
        todo = find_todo(
            wh.read("samples"),
            wh.read("status"),
            max_samples=max_samples,
            needed=tostart,
            seed=seed,
        )
        for r in todo.collect():  # ≤ max_projects rows
            initialize_pipeline(wh, r.project, adapters)
            run_project(wh, r.project, adapters)
            launched.append(r.project)
    return {
        "done": done,
        "running": running,
        "not_done": not_done,
        "decisions": decisions,
        "launched": launched,
    }


# (category, [(label, relative path, is_dir), ...]) — the reference's
# Report_progress probe table (`projects.py:156-198`) verbatim: three
# stage groups, each check a filesystem existence test relative to the
# project directory.
PROGRESS_CHECKS: list[tuple[str, list[tuple[str, str, bool]]]] = [
    (
        "Initialization",
        [
            ("Directory created", ".", True),
            ("Repository cloned", "workflow", True),
            ("Accession list created", "SraAccList.txt", False),
            ("Virtual environment created", "venv", True),
        ],
    ),
    (
        "Pipeline",
        [
            ("1/6 Prefetch job started", ".snakemake/slurm_logs/rule_sra_prefetch", False),
            ("2/6 SRA data extraction job started", ".snakemake/slurm_logs/rule_sra_to_fastq", False),
            ("3/6 FASTQ filtering job started", ".snakemake/slurm_logs/rule_filter", False),
            ("4/6 Error modeling job started", ".snakemake/slurm_logs/rule_errormodel", False),
            ("5/6 ASV calculation job started", ".snakemake/slurm_logs/rule_make_asv_table", False),
            ("6/6 Taxonomic assignment job started", ".snakemake/slurm_logs/rule_assign_taxonomy", False),
        ],
    ),
    (
        "Results",
        [
            ("Result file: ASVs.fa", "ASVs.fa", False),
            ("Result file: ASVs_counts.tsv", "ASVs_counts.tsv", False),
            ("Result file: ASVs_taxonomy.tsv", "ASVs_taxonomy.tsv", False),
        ],
    ),
]

# the reference's check_if_done file list (`projects.py:137-148`)
_DONE_FILES = ("ASVs.fa", "ASVs_counts.tsv", "ASVs_taxonomy.tsv")


def progress_report(projects_dir: str, project: str) -> dict:
    """The reference's per-project stage report (`Report_progress`,
    projects.py:156-198) as a pure filesystem probe: which pipeline
    stages have started, whether the run is live (running.txt —
    check_if_running, projects.py:149-154), whether all result files
    exist (check_if_done, projects.py:137-148), and the EARLIEST
    failing check (the reference's single `<<<` arrow). Returns a
    plain dict so the CLI renderer and tests share one source."""
    d = Path(projects_dir) / project
    done = all((d / f).exists() for f in _DONE_FILES)
    running = (d / "running.txt").exists()
    cats = []
    arrow: str | None = None
    for cat, checks in PROGRESS_CHECKS:
        rows = []
        for label, rel, is_dir in checks:
            p = d if rel == "." else d / rel
            ok = p.is_dir() if is_dir else p.exists()
            if not ok and arrow is None:
                arrow = label
            rows.append((label, ok))
        cats.append((cat, rows))
    return {
        "project": project,
        "done": done,
        "running": running,
        "categories": cats,
        "arrow": arrow,
    }


def render_progress(report: dict) -> str:
    """Text rendering in the reference's format (projects.py:156-197),
    byte-exact (ADVICE r9 #3): the header is the Project __str__
    (`Project <id>`, projects.py:575-576), DONE! short-circuits, a
    CURRENTLY RUNNING banner when live, then per-category check lists
    with one arrow at the earliest failure. Every check line carries
    the reference's trailing space after the label (its f-string
    always emits `{label} {arrow-or-empty}`, projects.py:194), so a
    non-arrowed line ends in one space and an arrowed line reads
    `label   <<< XXXXXXX <<<`."""
    lines = [f"Project {report['project']}"]
    if report["done"]:
        lines.append("DONE!")
        return "\n".join(lines)
    if report["running"]:
        lines.append("\n===============\nCURRENTLY RUNNING\n===============\n")
    for cat, rows in report["categories"]:
        lines.append(f"\n======{cat}======")
        for label, ok in rows:
            arrow = "  <<< XXXXXXX <<<" if report["arrow"] == label else ""
            lines.append(f"{'✓' if ok else 'X'}   {label} {arrow}")
    return "\n".join(lines)
