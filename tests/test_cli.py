"""CLI + warehouse: the reference's command surface end-to-end."""

from __future__ import annotations

import pytest

from compendium_spark.cli import main
from compendium_spark.pipeline.amplicon import WHOLE_16S
from compendium_spark.storage import Warehouse

XML = """<?xml version="1.0"?><BioSampleSet>
<BioSample><Ids><Id db="SRA">SRS001</Id></Ids><Attributes>
<Attribute harmonized_name="geo_loc_name">USA</Attribute></Attributes></BioSample>
<BioSample><Ids><Id db="SRA">SRS002</Id></Ids><Attributes>
<Attribute attribute_name="host">Human</Attribute></Attributes></BioSample>
</BioSampleSet>"""

EFETCH = """<R><EXPERIMENT_PACKAGE><SAMPLE accession="SRS001"/>
<RUN accession="SRR100"/><EXTERNAL_ID namespace="BioProject">PRJ1</EXTERNAL_ID>
<LIBRARY_STRATEGY>AMPLICON</LIBRARY_STRATEGY><LIBRARY_SOURCE>GENOMIC</LIBRARY_SOURCE>
</EXPERIMENT_PACKAGE>
<EXPERIMENT_PACKAGE><SAMPLE accession="SRS002"/>
<RUN accession="SRR200"/><RUN accession="SRR201"/>
<EXTERNAL_ID namespace="BioProject">PRJ1</EXTERNAL_ID>
<LIBRARY_STRATEGY>AMPLICON</LIBRARY_STRATEGY><LIBRARY_SOURCE>METAGENOMIC</LIBRARY_SOURCE>
</EXPERIMENT_PACKAGE></R>"""


def _write_results(d):
    """A finished project's result files: 3 non-zero count cells, 2
    amplicons cut from the v4 region, their taxonomy."""
    d.mkdir()
    (d / "ASVs_counts.tsv").write_text("\tSRR100\tSRR200\nASV_1\t10\t0\nASV_2\t3\t7\n")
    (d / "ASVs.fa").write_text(f">ASV_1\n{WHOLE_16S[570:690]}\n>ASV_2\n{WHOLE_16S[572:688]}\n")
    (d / "ASVs_taxonomy.tsv").write_text(
        "\tKingdom\tPhylum\tClass\tOrder\tFamily\tGenus\n"
        "ASV_1\tBacteria\tB\tC\tD\tE\tF\nASV_2\tBacteria\tB\tC\tD\tE\tG\n"
    )
    return d


@pytest.fixture(scope="module")
def wh_dir(tmp_path_factory):
    return str(tmp_path_factory.mktemp("warehouse"))


def run(spark, wh_dir, *argv) -> int:
    return main(["--warehouse", wh_dir, *argv], spark=spark)


def test_full_command_flow(spark, wh_dir, tmp_path, capsys):
    # init (idempotent)
    assert run(spark, wh_dir, "init") == 0
    assert run(spark, wh_dir, "init") == 0

    # xml ingest + re-ingest (anti-join: second run adds 0)
    xml = tmp_path / "bs.xml"
    xml.write_text(XML)
    assert run(spark, wh_dir, "xml", "txid408170", str(xml)) == 0
    assert "saved 2 new samples" in capsys.readouterr().out
    assert run(spark, wh_dir, "xml", "txid408170", str(xml)) == 0
    assert "saved 0 new samples" in capsys.readouterr().out
    assert run(spark, wh_dir, "tags", "txid408170", str(xml)) == 0

    # runs enrichment from mocked efetch XML
    mock = tmp_path / "efetch.xml"
    mock.write_text(EFETCH)
    assert run(spark, wh_dir, "runs", "--mock-xml", str(mock)) == 0
    assert "updated 2 samples" in capsys.readouterr().out

    # accession list sink (multi-run sample explodes to 2 SRRs)
    acc = tmp_path / "SraAccList.txt"
    assert run(spark, wh_dir, "accessions", "PRJ1", "--out", str(acc)) == 0
    assert acc.read_text().splitlines() == ["SRR100", "SRR200", "SRR201"]

    # eval QC decision from a summary.tsv
    summ = tmp_path / "summary.tsv"
    summ.write_text(
        "\tdinput\tfilter\tforwd\trevse\tmerged\tlength\tnonchim\n"
        + "".join(
            f"SRR10{i}_1.fastq\t50000\t48000\t47000\t46500\t45000\t44800\t44000\n"
            for i in range(6)
        )
    )
    assert run(spark, wh_dir, "eval", "PRJ1", "--summary", str(summ)) == 0
    assert "decision=save" in capsys.readouterr().out

    # load results
    d = _write_results(tmp_path / "PRJ1")
    # with --archive-dir the full lifecycle tail runs:
    # complete → archived → done (projects.py:525-551)
    assert run(
        spark, wh_dir, "load-results", "PRJ1", "--dir", str(d),
        "--archive-dir", str(tmp_path / "archive"),
    ) == 0
    assert "3 count cells" in capsys.readouterr().out
    assert (tmp_path / "archive" / "PRJ1.tar.gz").exists()

    # asvs region inference over the loaded project
    assert run(spark, wh_dir, "asvs") == 0
    out = capsys.readouterr().out
    assert "PRJ1: v4" in out
    # second run: queue empty
    assert run(spark, wh_dir, "asvs") == 0
    assert "no projects to evaluate" in capsys.readouterr().out

    # reports
    assert run(spark, wh_dir, "status") == 0
    assert "done\t1" in capsys.readouterr().out
    assert run(spark, wh_dir, "compendium") == 0
    out = capsys.readouterr().out
    assert "projects: 1" in out and "samples: 2" in out and "ASVs: 2" in out


def test_load_countries_and_geo_report(spark, wh_dir, tmp_path, capsys):
    """Geo dimension ingest (ref db.py:104-117 defines the tables but
    no loader) + the native samples→geo_loc_countries→countries
    snowflake report (plan j7's warehouse form)."""
    geo = tmp_path / "geo_locs.tsv"
    geo.write_text(
        "geo_loc_name\tiso2\nUSA: Boston\tUS\nUSA:Cambridge\tUS\nFrance: Paris\tFR\n"
    )
    ctry = tmp_path / "countries.tsv"
    ctry.write_text(
        "iso2\tname\tregion\nUS\tUnited States\tAmericas\nFR\tFrance\tEurope\n"
    )
    assert run(spark, wh_dir, "load-countries", "--geo-locs", str(geo),
               "--countries", str(ctry)) == 0
    assert "3 geo_loc mappings, 2 countries" in capsys.readouterr().out
    # idempotent re-load (keyed upsert, not append)
    assert run(spark, wh_dir, "load-countries", "--geo-locs", str(geo),
               "--countries", str(ctry)) == 0
    capsys.readouterr()

    samples = spark.createDataFrame(
        [
            ("SRS1", "PRJ1", "USA: Boston"),
            ("SRS2", "PRJ1", "France: Paris"),
            ("SRS3", "PRJ2", "somewhere odd"),
        ],
        "srs string, project string, geo_loc_name string",
    ).selectExpr(
        "srs", "project", "cast(null as string) taxon",
        "cast(array() as array<string>) srr",
        "cast(null as string) library_strategy",
        "cast(null as string) library_source",
        "cast(null as string) instrument",
        "cast(null as timestamp) pubdate",
        "cast(null as long) total_bases", "geo_loc_name",
    )
    wh = Warehouse(spark, wh_dir)
    wh.write("samples", samples)
    assert run(spark, wh_dir, "geo") == 0
    out = capsys.readouterr().out
    assert "Americas\tUnited States\t1\t1" in out
    assert "Europe\tFrance\t1\t1" in out
    assert "<unmapped>\t<unmapped>\t1\t1" in out


def test_plans_run_explain_commands(spark, wh_dir, capsys):
    assert run(spark, wh_dir, "plans") == 0
    out = capsys.readouterr().out
    assert "q1_pricing_summary\toracle" in out
    # round 8: every registered plan is oracle-verified — zero
    # rows-only entries remain
    assert "o2_stratified_sample\toracle" in out
    assert "rows-only" not in out

    assert run(spark, wh_dir, "run", "q1_pricing_summary",
               "--sf-dir", "/root/testdata/sf0.001") == 0
    out = capsys.readouterr().out
    assert "l_returnflag" in out and "sum_qty" in out

    assert run(spark, wh_dir, "explain", "q6_forecast_revenue",
               "--sf-dir", "/root/testdata/sf0.001") == 0
    out = capsys.readouterr().out
    assert "Physical Plan" in out and "PushedFilters" in out

    import pytest as _pytest

    with _pytest.raises(SystemExit, match="unknown plan"):
        run(spark, wh_dir, "run", "nope")

    # free-form SQL over testdata views + wh_-prefixed warehouse tables
    assert run(
        spark, wh_dir, "sql",
        "SELECT r_name, (SELECT COUNT(*) FROM wh_status) AS n_status "
        "FROM region ORDER BY r_name LIMIT 2",
        "--sf-dir", "/root/testdata/sf0.001",
    ) == 0
    out = capsys.readouterr().out
    assert "AFRICA" in out and "n_status" in out


def test_sources_command(spark, wh_dir, tmp_path, capsys):
    src = tmp_path / "sources.txt"
    src.write_text("human stool\nsoil core\n")
    out_dir = tmp_path / "processed"
    assert run(spark, wh_dir, "sources", str(src), str(out_dir)) == 0
    assert "kept 1" in capsys.readouterr().out


def test_warehouse_merge_roundtrip(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path / "wh2"))
    wh.init_tables()
    s1 = spark.createDataFrame(
        [("P1", "running", 0, None, None, None)],
        "project string, status string, rerun_as_single_end int, paired int, note1 string, note2 string",
    )
    wh.upsert("status", s1, key="project")
    s2 = spark.createDataFrame(
        [("P1", "done", 0, None, None, None), ("P2", "running", 0, None, None, None)],
        s1.schema,
    )
    wh.upsert("status", s2, key="project")
    got = {r.project: r.status for r in wh.read("status").collect()}
    assert got == {"P1": "done", "P2": "running"}


def test_partitioned_upsert_touches_only_affected_partitions(spark, tmp_path):
    """asv_sequences is hive-partitioned by project; an upsert for one
    project must leave every other partition's files untouched on disk
    (partition-level MERGE, not a table rewrite)."""
    import os

    wh = Warehouse(spark, str(tmp_path / "wh3"))
    wh.init_tables()
    schema = "asv_id long, project string, asv string, seq string"
    wh.append(
        "asv_sequences",
        spark.createDataFrame(
            [(1, "P1", "ASV_1", "AAA"), (2, "P2", "ASV_1", "CCC")], schema
        ),
    )
    p2_dir = wh.path("asv_sequences") / "project=P2"
    before = {f: os.path.getmtime(p2_dir / f) for f in os.listdir(p2_dir)}

    wh.upsert(
        "asv_sequences",
        spark.createDataFrame(
            [(1, "P1", "ASV_1", "GGG"), (3, "P1", "ASV_2", "TTT")], schema
        ),
        key=["project", "asv"],
    )
    after = {f: os.path.getmtime(p2_dir / f) for f in os.listdir(p2_dir)}
    assert before == after  # P2 partition untouched byte-for-byte

    got = {
        (r.project, r.asv): r.seq
        for r in wh.read("asv_sequences").collect()
    }
    assert got == {
        ("P1", "ASV_1"): "GGG",
        ("P1", "ASV_2"): "TTT",
        ("P2", "ASV_1"): "CCC",
    }


def test_schema_validation_rejects_drift(spark, tmp_path):
    """A DataFrame whose columns drift from the declared table schema
    must fail at the write boundary with a readable error."""
    from compendium_spark.operators.validate import SchemaMismatchError

    wh = Warehouse(spark, str(tmp_path / "wh4"))
    wh.init_tables()
    bad = spark.createDataFrame(
        [("P1", "running")], "project string, status_name string"
    )
    with pytest.raises(SchemaMismatchError) as e:
        wh.write("status", bad)
    assert "missing" in str(e.value) and "status_name" in str(e.value)

    wrong_type = spark.createDataFrame(
        [("P1", "running", "0", None, None, None)],
        "project string, status string, rerun_as_single_end string, "
        "paired int, note1 string, note2 string",
    )
    with pytest.raises(SchemaMismatchError) as e:
        wh.append("status", wrong_type)
    assert "wrong_type" in str(e.value)


def test_progress_report_golden(spark, wh_dir, tmp_path, capsys):
    """cmd_progress mirrors the reference's Report_progress
    (projects.py:156-198): fresh project shows the arrow at the
    earliest failing check; a mid-pipeline project arrows the first
    missing stage log and banners CURRENTLY RUNNING; a finished
    project short-circuits to DONE! with exit code 0."""
    pdir = tmp_path / "projects"
    proj = pdir / "PRJX"

    # nothing exists: exit 1, arrow at the very first check
    assert run(spark, wh_dir, "progress", "PRJX", "--projects-dir", str(pdir)) == 1
    out = capsys.readouterr().out
    assert "X   Directory created   <<< XXXXXXX <<<" in out
    assert "DONE!" not in out

    # initialized + first two stage logs + live run marker
    (proj / ".snakemake" / "slurm_logs").mkdir(parents=True)
    (proj / "workflow").mkdir()
    (proj / "venv").mkdir()
    (proj / "SraAccList.txt").write_text("SRR100\n")
    (proj / ".snakemake" / "slurm_logs" / "rule_sra_prefetch").write_text("")
    (proj / ".snakemake" / "slurm_logs" / "rule_sra_to_fastq").write_text("")
    (proj / "running.txt").write_text("")
    assert run(spark, wh_dir, "progress", "PRJX", "--projects-dir", str(pdir)) == 1
    out = capsys.readouterr().out
    assert "CURRENTLY RUNNING" in out
    assert "✓   Repository cloned" in out
    assert "✓   2/6 SRA data extraction job started" in out
    assert "X   3/6 FASTQ filtering job started   <<< XXXXXXX <<<" in out
    # only ONE arrow in the whole report (the reference's `arrow` latch)
    assert out.count("<<< XXXXXXX <<<") == 1

    # all result files present: DONE! short-circuit, exit 0
    for f in ("ASVs.fa", "ASVs_counts.tsv", "ASVs_taxonomy.tsv"):
        (proj / f).write_text("x")
    assert run(spark, wh_dir, "progress", "PRJX", "--projects-dir", str(pdir)) == 0
    out = capsys.readouterr().out
    assert out.strip().endswith("DONE!")


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_empty_tables_are_local_scans(spark, tmp_path, spark_jobs):
    """The read of a missing table frames its empty table as a
    JVM-side LocalTableScan (no Python RDD). init_tables starts no
    Spark job: it commits every table from the driver, in Spark's
    layout for an empty frame (one empty parquet file, or `_SUCCESS`
    alone for a partitioned table), and every table reads back with
    its declared schema."""
    from compendium_spark.storage import PARTITION_SPEC

    wh = Warehouse(spark, str(tmp_path / "wh"))
    for name, schema in wh.tables.items():
        missing = wh.read(name)
        assert "LocalTableScan" in _plan(missing), name
        assert "ExistingRDD" not in _plan(missing), name
        assert missing.schema == schema

    assert spark_jobs(wh.init_tables) == 0
    assert spark_jobs(lambda: wh.read("status").count()) > 0  # the counter counts

    def fields(st):
        return [(f.name, f.dataType) for f in st.fields]

    for name, schema in wh.tables.items():
        files = sorted(f.name for f in wh.path(name).iterdir())
        if name in PARTITION_SPEC:
            assert files == ["_SUCCESS"], name
        else:
            assert files == ["_SUCCESS", "part-00000.snappy.parquet"], name
            assert wh.read_arrow(name).num_rows == 0
        got = wh.read(name)
        assert fields(got.schema) == fields(schema), name
        assert got.count() == 0


def _ingest(spark, wh_dir, tmp_path):
    xml = tmp_path / "bs.xml"
    xml.write_text(XML)
    mock = tmp_path / "efetch.xml"
    mock.write_text(EFETCH)
    assert run(spark, wh_dir, "init") == 0
    assert run(spark, wh_dir, "xml", "txid408170", str(xml)) == 0
    return xml, mock


def test_runs_collapses_repeated_staged_samples(spark, tmp_path, capsys):
    """--per-query below the sample count makes several batches, and
    --mock-xml answers each with the whole file, so every sample is
    staged once per batch. The merge must still leave one row per
    sample, enriched with the fetched fields."""
    wh_dir = str(tmp_path / "wh")
    _, mock = _ingest(spark, wh_dir, tmp_path)
    capsys.readouterr()
    assert run(spark, wh_dir, "runs", "--per-query", "1", "--mock-xml", str(mock)) == 0
    assert "updated 2 samples" in capsys.readouterr().out
    rows = Warehouse(spark, wh_dir).read("samples").collect()
    assert len(rows) == 2
    got = {
        r.srs: (r.srr, r.project, r.library_strategy, r.library_source, r.taxon)
        for r in rows
    }
    assert got == {
        "SRS001": (["SRR100"], "PRJ1", "AMPLICON", "GENOMIC", "txid408170"),
        "SRS002": (["SRR200", "SRR201"], "PRJ1", "AMPLICON", "METAGENOMIC", "txid408170"),
    }


def test_collapse_staged_later_non_null_fields_win():
    from compendium_spark.cli import _collapse_staged

    blank = dict.fromkeys(
        ["srr", "project", "library_strategy", "library_source", "pubdate",
         "total_bases", "instrument"]
    )
    staged = [
        {**blank, "srs": "S1", "srr": ["A"], "project": "P1", "total_bases": 5},
        {**blank, "srs": "S2", "srr": ["C"]},
        {**blank, "srs": "S1", "srr": ["B"], "instrument": "X"},
    ]
    assert _collapse_staged(staged) == [
        ("S1", ["B"], "P1", None, None, None, 5, "X"),
        ("S2", ["C"], None, None, None, None, None, None),
    ]


def test_printed_counts_equal_table_deltas(spark, tmp_path, capsys):
    """xml, tags and load-results print counts observed on their write
    jobs; each must equal the rows its tables gained."""
    import re

    wh_dir = str(tmp_path / "wh")
    wh = Warehouse(spark, wh_dir)

    def sizes(*names):
        return [wh.read(n).count() for n in names]

    def printed(pattern):
        return [int(x) for x in re.search(pattern, capsys.readouterr().out).groups()]

    xml, _ = _ingest(spark, wh_dir, tmp_path)
    assert printed(r"saved (\d+) new samples") == sizes("samples") == [2]

    assert run(spark, wh_dir, "tags", "txid408170", str(xml)) == 0
    (n_tags,) = printed(r"saved tags for new samples: (\d+) rows")
    assert n_tags == wh.read("tags").count() > 0

    d = _write_results(tmp_path / "PRJ1")
    tables = ("asv_counts", "asv_sequences", "asv_assignments")
    before = sizes(*tables)
    assert run(spark, wh_dir, "load-results", "PRJ1", "--dir", str(d)) == 0
    got = printed(r"loaded (\d+) count cells, (\d+) sequences, (\d+) assignments")
    assert got == [a - b for a, b in zip(sizes(*tables), before)] == [3, 2, 2]


def test_asvs_runs_region_kernel_once_per_project(spark, tmp_path, capsys, monkeypatch):
    """The region kernel is the lifecycle's only CPU-bound step: asvs
    must run it exactly once per project, store and print the same
    results. Each kernel call appends its project to a marker file
    (the wrapper is shipped to the Python workers with the grouped-map
    function)."""
    from compendium_spark.pipeline import amplicon

    marker = str(tmp_path / "kernel_calls")
    orig = amplicon.process_project

    def counted(asvs):
        with open(marker, "a") as f:
            f.write(f"{len(asvs)}\n")
        return orig(asvs)

    monkeypatch.setattr(amplicon, "process_project", counted)

    wh_dir = str(tmp_path / "wh")
    assert run(spark, wh_dir, "init") == 0
    wh = Warehouse(spark, wh_dir)
    wh.append(
        "asv_sequences",
        spark.createDataFrame(
            [
                (1, "P1", "ASV_1", WHOLE_16S[570:690]),
                (2, "P1", "ASV_2", WHOLE_16S[572:688]),
                (3, "P2", "ASV_1", WHOLE_16S[571:689]),
            ],
            "asv_id long, project string, asv string, seq string",
        ),
    )
    capsys.readouterr()
    assert run(spark, wh_dir, "asvs") == 0
    out = capsys.readouterr().out
    with open(marker) as f:
        assert sorted(f.read().split()) == ["1", "2"]  # one call per project
    stored = {r.project: r.region for r in wh.read("asv_inference").collect()}
    assert stored == {"P1": "v4", "P2": "v4"}
    assert sorted(out.splitlines()) == sorted(
        f"{r.project}: {r.region}, {r.length}"
        for r in wh.read("asv_inference").collect()
    )


def test_eval_summary_without_samples(spark, tmp_path, capsys):
    """A header-only summary.tsv has no sample rows to QC: eval says
    so and exits non-zero instead of raising IndexError."""
    summ = tmp_path / "summary.tsv"
    summ.write_text("\tdinput\tfilter\tforwd\trevse\tmerged\tlength\tnonchim\n")
    wh = str(tmp_path / "wh")
    assert run(spark, wh, "eval", "PRJ1", "--summary", str(summ)) == 1
    assert f"Project PRJ1: no samples in {summ}" in capsys.readouterr().out
