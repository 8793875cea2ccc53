"""Orchestration lifecycle (ref `main.py:36-134`, `management.py:8-66`,
REACT `projects.py:554-571`) with injected side-effect adapters."""

from __future__ import annotations

import pytest

from compendium_spark.functions.qc import project_disposition, project_qc, sample_qc
from compendium_spark.pipeline.orchestrate import (
    Adapters,
    advance_projects,
    archive_project,
    autoforward,
    determine_projects,
    dir_probe,
    discard_project,
    initialize_pipeline,
    rerun_file_prep,
    rerun_single_end,
    run_project,
    set_project_status,
    tar_archive,
)
from compendium_spark.sources.tsv import read_summary
from compendium_spark.storage import Warehouse

GOOD_ROW = "SRR{i}_1.fastq\t50000\t48000\t47000\t46500\t45000\t44800\t44000\n"
BAD_ROW = "SRR{i}_1.fastq\t50000\t48000\t47000\t46500\t20000\t44800\t44000\n"
CHIMERIC_ROW = "SRR{i}_1.fastq\t50000\t48000\t47000\t46500\t45000\t44800\t5000\n"
HEADER = "\tdinput\tfilter\tforwd\trevse\tmerged\tlength\tnonchim\n"


@pytest.fixture()
def wh(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path / "wh"))
    wh.init_tables()
    # eligible samples for the find_todo picker: 60 samples in PRJNEW
    rows = [
        (f"SRS{i}", "PRJNEW", "tx", ["SRR%d" % i], "AMPLICON", "GENOMIC",
         None, None, None, None)
        for i in range(60)
    ]
    samples = spark.createDataFrame(
        rows,
        "srs string, project string, taxon string, srr array<string>, "
        "library_strategy string, library_source string, instrument string, "
        "pubdate timestamp, total_bases long, geo_loc_name string",
    )
    wh.write("samples", samples)
    return wh


def _mk_project(tmp_path, project: str, rows: str, running: bool = False):
    d = tmp_path / "projects" / project
    d.mkdir(parents=True, exist_ok=True)
    if running:
        (d / "running.txt").write_text("")
    else:
        (d / "summary.tsv").write_text(
            HEADER + "".join(rows.format(i=i) for i in range(6))
        )


def _adapters(spark, tmp_path, log):
    projects_dir = str(tmp_path / "projects")

    def load_summary(project):
        path = f"{projects_dir}/{project}/summary.tsv"
        try:
            return read_summary(spark, path, project=project)
        except Exception:
            return None

    return Adapters(
        probe=dir_probe(projects_dir),
        load_summary=load_summary,
        submit=lambda p: log.append(("submit", p)),
        clone=lambda p: log.append(("clone", p)),
    )


def test_lifecycle_transitions(spark, wh, tmp_path):
    log = []
    a = _adapters(spark, tmp_path, log)
    initialize_pipeline(wh, "PRJA", a)
    assert ("clone", "PRJA") in log
    run_project(wh, "PRJA", a)
    got = {r.project: r.status for r in wh.read("status").collect()}
    assert got["PRJA"] == "running"
    assert ("submit", "PRJA") in log

    discard_project(wh, "PRJA", "bad data")
    row = wh.read("status").filter("project = 'PRJA'").collect()[0]
    assert row.status == "failed" and row.note1 == "bad data"


def test_determine_and_advance(spark, wh, tmp_path):
    log = []
    a = _adapters(spark, tmp_path, log)
    for p in ("PRJGOOD", "PRJBAD", "PRJRUN"):
        initialize_pipeline(wh, p, a)
        run_project(wh, p, a)
    _mk_project(tmp_path, "PRJGOOD", GOOD_ROW)
    _mk_project(tmp_path, "PRJBAD", BAD_ROW)  # merged 20k/47k → re_run
    _mk_project(tmp_path, "PRJRUN", GOOD_ROW, running=True)

    done, running, not_done = determine_projects(wh, a)
    assert sorted(done) == ["PRJBAD", "PRJGOOD"]
    assert running == ["PRJRUN"]

    decisions = advance_projects(wh, done, a, auto=True)
    assert decisions == {"PRJGOOD": "save", "PRJBAD": "re_run"}
    rows = {r.project: r for r in wh.read("status").collect()}
    # re_run under auto resubmits → running again (projects.py:314-329)
    assert rows["PRJBAD"].status == "running"
    assert rows["PRJGOOD"].status == "complete"
    assert ("submit", "PRJBAD") in log[-2:]
    # the re-run flag is set (projects.py:322-327) and SURVIVES the
    # subsequent 'running' transition (partial update, not full-row)
    assert rows["PRJBAD"].rerun_as_single_end == 1
    assert rows["PRJGOOD"].rerun_as_single_end == 0
    # the QC error note also survives the auto resubmit
    assert "merged read count" in rows["PRJBAD"].note1


def test_rerun_single_end_file_prep_and_flags(spark, wh, tmp_path):
    """Mirrors the reference's own unit tests
    (tests/projects_test.py:16-53): reverse-read removal and the
    previous_summary rename chain, plus the status/flag writes of
    Rerun_as_single_end (projects.py:313-329)."""
    log = []
    a = _adapters(spark, tmp_path, log)
    a.prepare_rerun = rerun_file_prep(str(tmp_path / "projects"))

    d = tmp_path / "projects" / "PRJP"
    (d / "fastq").mkdir(parents=True)
    for i in range(6):  # 6 paired-end samples → 12 fastq files
        (d / "fastq" / f"SRR{i}_1.fastq").write_text("@r\nACGT\n+\n!!!!\n")
        (d / "fastq" / f"SRR{i}_2.fastq").write_text("@r\nACGT\n+\n!!!!\n")
    (d / "summary.tsv").write_text(HEADER + GOOD_ROW.format(i=0))
    (d / "intermediate").mkdir()
    (d / "ASVs.fa").write_text(">x\nACGT\n")

    initialize_pipeline(wh, "PRJP", a)
    rerun_single_end(wh, "PRJP", a, note1="merged warn", auto=True)

    # _remove_reverse_reads: half the files gone, all forward reads
    fastqs = sorted(f.name for f in (d / "fastq").iterdir())
    assert len(fastqs) == 6 and all(f.endswith("_1.fastq") for f in fastqs)
    # _remove_previous_dada: outputs gone, summary scooted aside
    assert not (d / "intermediate").exists()
    assert not (d / "ASVs.fa").exists()
    assert not (d / "summary.tsv").exists()
    assert (d / "previous_summary.tsv").exists()

    # second prep re-renames previous → previous_previous
    (d / "summary.tsv").write_text(HEADER + GOOD_ROW.format(i=0))
    a.prepare_rerun("PRJP")
    names = {f.name for f in d.iterdir()}
    assert "previous_previous_summary.tsv" in names
    assert "previous_summary.tsv" in names  # the re-written summary moved in

    row = wh.read("status").filter("project = 'PRJP'").collect()[0]
    assert row.rerun_as_single_end == 1
    assert row.status == "running"  # auto resubmit
    assert row.note1 == "merged warn"


def test_rerun_single_end_rejects_unpaired(spark, wh, tmp_path):
    log = []
    a = _adapters(spark, tmp_path, log)
    initialize_pipeline(wh, "PRJS", a)
    # record that the project's final results were single-ended
    paired = spark.createDataFrame([("PRJS", 0)], "project string, paired int")
    wh.partial_update("status", paired, key="project")
    with pytest.raises(ValueError, match="single-end"):
        rerun_single_end(wh, "PRJS", a)


def test_archive_chain_complete_archived_done(spark, wh, tmp_path):
    """projects.py:525-551: complete → archived → done, each transition
    gated on its side effect; a failing archive leaves 'complete'."""
    log = []
    a = _adapters(spark, tmp_path, log)
    d = tmp_path / "projects" / "PRJC"
    d.mkdir(parents=True)
    (d / "ASVs_counts.tsv").write_text("x\t1\n")
    a.archive = tar_archive(str(tmp_path / "projects"), str(tmp_path / "archive"))
    a.cleanup = lambda p: log.append(("cleanup", p))

    initialize_pipeline(wh, "PRJC", a)
    set_project_status(wh, "PRJC", "complete")
    archive_project(wh, "PRJC", a)
    row = wh.read("status").filter("project = 'PRJC'").collect()[0]
    assert row.status == "done"
    assert (tmp_path / "archive" / "PRJC.tar.gz").exists()
    assert ("cleanup", "PRJC") in log

    # failed archive → status stays where it was
    def boom(_p):
        raise RuntimeError("tar failed")

    a.archive = boom
    initialize_pipeline(wh, "PRJD", a)
    set_project_status(wh, "PRJD", "complete")
    with pytest.raises(RuntimeError):
        archive_project(wh, "PRJD", a)
    row = wh.read("status").filter("project = 'PRJD'").collect()[0]
    assert row.status == "complete"


def test_autoforward_fills_capacity(spark, wh, tmp_path):
    log = []
    a = _adapters(spark, tmp_path, log)
    result = autoforward(wh, a, max_projects=2)
    # nothing tracked yet → PRJNEW (60 eligible samples, in the 50..1000
    # band) gets picked, initialized, and submitted
    assert result["launched"] == ["PRJNEW"]
    got = {r.project: r.status for r in wh.read("status").collect()}
    assert got["PRJNEW"] == "running"
    assert ("submit", "PRJNEW") in log

    # second sweep: PRJNEW counts toward capacity (not_done — no files),
    # and the anti-join (Q3 fix) prevents re-picking it
    result2 = autoforward(wh, a, max_projects=2)
    assert result2["launched"] == []
    assert result2["not_done"] == ["PRJNEW"]


SWEEP = {"PRJBAD": BAD_ROW, "PRJGOOD": GOOD_ROW, "PRJCHIM": CHIMERIC_ROW}


def _status(wh):
    return {
        r.project: (r.status, r.rerun_as_single_end, r.paired, r.note1, r.note2)
        for r in wh.read("status").collect()
    }


@pytest.mark.parametrize("auto", [False, True])
def test_forward_sweep_one_status_write_matches_per_project_path(
    spark, wh, tmp_path, monkeypatch, auto
):
    """One batched sweep writes `status` exactly once, and lands the
    same decisions, statuses, notes and re-run flags as the
    single-project helpers applied one project at a time."""
    per_project = Warehouse(spark, str(tmp_path / "wh_per_project"))
    per_project.init_tables()
    log = []
    a = _adapters(spark, tmp_path, log)
    for p, rows in SWEEP.items():
        _mk_project(tmp_path, p, rows)
        for w in (wh, per_project):
            initialize_pipeline(w, p, a)
            run_project(w, p, a)
    done = list(SWEEP)

    writes = []
    write = Warehouse.write

    def spy(self, name, df):
        writes.append(name)
        return write(self, name, df)

    monkeypatch.setattr(Warehouse, "write", spy)
    decisions = advance_projects(wh, done, a, auto=auto)
    monkeypatch.undo()
    assert writes == ["status"]
    assert decisions == {"PRJBAD": "re_run", "PRJGOOD": "save", "PRJCHIM": "discard"}

    for p in done:
        d = project_disposition(project_qc(sample_qc(a.load_summary(p)))).collect()[0]
        note = "; ".join(d.errors)
        if d.decision == "discard":
            discard_project(per_project, p, note)
        elif d.decision == "re_run":
            rerun_single_end(per_project, p, a, note1=note, auto=auto)
        else:
            set_project_status(per_project, p, "complete")
    assert _status(wh) == _status(per_project)
    got = _status(wh)
    assert got["PRJBAD"][:2] == ("running" if auto else "to_re_run", 1)
    assert got["PRJCHIM"][0] == "failed" and "chimeric" in got["PRJCHIM"][3]
    assert got["PRJGOOD"][:2] == ("complete", 0)


def test_forward_sweep_refusal_changes_nothing(spark, wh, tmp_path):
    """A refused single-end re-run (paired = 0) raises before any
    project's files or status change — including the re-run and the
    save that come before it in the sweep."""
    log = []
    a = _adapters(spark, tmp_path, log)
    a.prepare_rerun = rerun_file_prep(str(tmp_path / "projects"))
    done = ["PRJBAD", "PRJGOOD", "PRJSINGLE"]
    for p, rows in (("PRJBAD", BAD_ROW), ("PRJGOOD", GOOD_ROW), ("PRJSINGLE", BAD_ROW)):
        _mk_project(tmp_path, p, rows)
        fq = tmp_path / "projects" / p / "fastq"
        fq.mkdir()
        (fq / "SRR0_1.fastq").write_text("@r\nACGT\n+\n!!!!\n")
        (fq / "SRR0_2.fastq").write_text("@r\nACGT\n+\n!!!!\n")
        initialize_pipeline(wh, p, a)
        run_project(wh, p, a)
    paired = spark.createDataFrame([("PRJSINGLE", 0)], "project string, paired int")
    wh.partial_update("status", paired, key="project")

    def files():
        root = tmp_path / "projects"
        return sorted(str(f.relative_to(root)) for f in root.rglob("*"))

    before_files, before_status, before_log = files(), _status(wh), list(log)
    with pytest.raises(ValueError, match="PRJSINGLE as single-end"):
        advance_projects(wh, done, a, auto=True)
    assert files() == before_files
    assert _status(wh) == before_status
    assert log == before_log


def test_status_transitions_start_no_spark_job(spark, wh, tmp_path, spark_jobs):
    """A transition, the pairedness check of a single-end re-run and
    the non-terminal listing all run on the driver: no Spark job."""
    log = []
    a = _adapters(spark, tmp_path, log)
    assert spark_jobs(lambda: set_project_status(wh, "PRJA", "running")) == 0
    assert spark_jobs(lambda: initialize_pipeline(wh, "PRJB", a)) == 0
    assert spark_jobs(lambda: rerun_single_end(wh, "PRJB", a, note1="n")) == 0
    assert spark_jobs(lambda: determine_projects(wh, a)) == 0
    assert _status(wh) == {
        "PRJA": ("running", 0, None, None, None),
        "PRJB": ("running", 1, None, "n", None),
    }


def test_transitions_merge_into_spark_written_status(spark, wh, tmp_path):
    """Driver-side transitions read and merge a `status` table the
    Spark path last wrote: `paired` set by partial_update survives,
    and the pairedness it records gates a single-end re-run."""
    log = []
    a = _adapters(spark, tmp_path, log)
    for p in ("PRJP", "PRJS"):
        initialize_pipeline(wh, p, a)
    paired = spark.createDataFrame(
        [("PRJP", 1), ("PRJS", 0)], "project string, paired int"
    )
    wh.partial_update("status", paired, key="project")
    assert not (wh.path("status") / "part-00000.snappy.parquet").exists()

    run_project(wh, "PRJP", a)
    discard_project(wh, "PRJS", "single-ended")
    rerun_single_end(wh, "PRJP", a, note1="merged", auto=False)
    with pytest.raises(ValueError, match="PRJS as single-end"):
        rerun_single_end(wh, "PRJS", a)
    set_project_status(wh, "PRJNEW", "initialized")
    assert _status(wh) == {
        "PRJP": ("to_re_run", 1, 1, "merged", None),
        "PRJS": ("failed", 0, 0, "single-ended", None),
        "PRJNEW": ("initialized", 0, None, None, None),
    }
    assert [r["project"] for r in wh.read_arrow("status").to_pylist()] == [
        "PRJP", "PRJS", "PRJNEW",
    ]
