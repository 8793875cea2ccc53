"""Fixture-backed ingest plans — oracle-gating the reference-native
sources (SURVEY §2.1 S1/S4/S6, §2.8 U4, §2.5 F5-F7/A4-A7).

Every other plan family runs over the driver's testdata tables, which
leaves the reference's own ingest surface (BioSample XML → samples /
tags, ASVs.fa → sequences, summary.tsv → QC disposition) covered only
by unit tests. These plans close that gap: each stages a FIXTURES.md
fixture as a real file, runs the REAL source reader + downstream
transform (`sources/biosample_xml.py`, `sources/fasta.py`,
`sources/tsv.py`, `functions/qc.py`), and pairs it with a DuckDB
oracle that re-derives the same result INDEPENDENTLY from the same
fixture text embedded as a SQL literal (regex XML field extraction,
chr(10)/chr(9) TSV splitting) — so the parse logic itself is
value-hash-checked, not just the relational tail.

Fixture edge cases are the reference's documented ones
(`/root/reference/db.py:194-263`, `projects.py:579-629`):
  * sample without an ``Id[@db='SRA']`` → skipped (db.py:233-237);
  * empty-text attribute → skipped (db.py:250-251);
  * duplicate tag keys in one sample → last wins (db.py:248-259);
  * @harmonized_name over @attribute_name (db.py:253-256), values
    lower-cased (db.py:252), XML entities decoded;
  * already-ingested sample → anti-join skip (db.py:215-221);
  * zero-denominator control samples → QC flags False
    (projects.py:603-610);
  * single-end project → NULL merged stats, never re_run
    (projects.py:250-265 documented intent; see functions/qc.py);
  * all three dispositions (save / re_run / discard) including the
    re_run short-circuit (projects.py:294-296).

Scale note: the fixtures are kilobytes by construction (they are the
gate vehicle for the PARSERS, not a data path). The staged file lands
on local disk because local[n] shares one filesystem; on a real
cluster the same readers point at shared storage — the plan code is
identical, only the path changes.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from compendium_spark.functions.numeric import quantize6
from compendium_spark.functions.qc import (
    project_disposition,
    project_qc,
    sample_qc,
)
from compendium_spark.pipeline.enrichment import parse_efetch_response
from compendium_spark.localframe import local_df
from compendium_spark.plans.registry import plan
from compendium_spark.sources.biosample_xml import (
    read_biosample_xml,
    to_samples,
    to_tags,
)
from compendium_spark.sources.fasta import read_fasta
from compendium_spark.sources.tsv import (
    melt_counts,
    read_counts_wide,
    read_summary,
    read_taxonomy,
)

# ---------------------------------------------------------------------------
# Fixtures (FIXTURES.md §1 / §3 / §5 shapes, single-line XML so the
# oracle's regexes never straddle lines)
# ---------------------------------------------------------------------------

TAXON = "txid408170"  # the reference CLI's taxon arg (main.py:27)
EXISTING_SRS = ("SRS000007",)  # already-ingested sample (db.py:215-221)

BIOSAMPLE_XML = (
    "<BioSampleSet>"
    '<BioSample><Ids><Id db="BioSample">SAMN001</Id><Id db="SRA">SRS000001</Id></Ids>'
    "<Attributes>"
    '<Attribute attribute_name="geo loc name" harmonized_name="geo_loc_name">USA: Minnesota</Attribute>'
    '<Attribute attribute_name="host body product">Stool</Attribute>'
    '<Attribute attribute_name="ENV Material" harmonized_name="env_material">Gut &amp; Feces</Attribute>'
    "</Attributes></BioSample>"
    '<BioSample><Ids><Id db="SRA">SRS000002</Id></Ids>'
    "<Attributes>"
    '<Attribute attribute_name="collection date" harmonized_name="collection_date">2019-07-04</Attribute>'
    '<Attribute attribute_name="Collection_Date" harmonized_name="collection_date">2020-01-15</Attribute>'
    '<Attribute attribute_name="host">Homo Sapiens</Attribute>'
    "</Attributes></BioSample>"
    '<BioSample><Ids><Id db="BioSample">SAMN003</Id></Ids>'
    '<Attributes><Attribute attribute_name="host">mouse</Attribute></Attributes></BioSample>'
    '<BioSample><Ids><Id db="SRA">SRS000004</Id></Ids>'
    "<Attributes>"
    '<Attribute attribute_name="empty tag" harmonized_name="empty_tag"></Attribute>'
    '<Attribute attribute_name="isolation source">Fecal Sample</Attribute>'
    "</Attributes></BioSample>"
    '<BioSample><Ids><Id db="SRA">SRS000005</Id></Ids></BioSample>'
    '<BioSample><Ids><Id db="SRA">SRS000007</Id></Ids>'
    '<Attributes><Attribute attribute_name="host">human</Attribute></Attributes></BioSample>'
    "</BioSampleSet>"
)

# strict 2-line records (projects.py:446-459); two sequences share a
# prefix so downstream region inference has signal, one is a reverse
# complement fragment — content is irrelevant to the parse being gated
FASTA_TEXT = "".join(
    f">ASV_{i}\n{seq}\n"
    for i, seq in [
        (1, "CCTACGGGAGGCAGCAGTAGGGAATCTTCC"),
        (2, "CCTACGGGTGGCAGCAGTGGGGAATATTGC"),
        (3, "GTGCCAGCMGCCGCGGTAA"),
        (4, "CCTACGGGAGGCAGCAG"),
        (10, "ACTCCTACGGGAGGCAGCAGT"),
        (11, "TTACCGCGGCTGCTGGCAC"),
    ]
)

# summary.tsv trios (projects.py:203-226 format: blank first header
# cell, row names carry an 8-char suffix the parser strips). Three
# projects hit all three dispositions; PRJ_RERUN includes a
# zero-count control row (flags False via NULL ratios), PRJ_DISCARD
# is single-end (no revse/merged columns at all).
SUMMARY_RERUN = (
    "\tdinput\tfilter\tforwd\trevse\tmerged\tlength\tnonchim\n"
    "SRR100001_1.fastq\t50000\t48000\t47000\t46500\t45000\t44800\t44000\n"
    "SRR100002_1.fastq\t60000\t58000\t57000\t56000\t30000\t29000\t28000\n"
    "SRR100003_1.fastq\t40000\t39000\t38000\t37500\t20000\t19500\t19000\n"
    "SRR100004_1.fastq\t30000\t29000\t28000\t27500\t27000\t26000\t21000\n"
    "SRR100005_1.fastq\t1000\t0\t0\t0\t0\t0\t0\n"
)
SUMMARY_DISCARD = (
    "\tdinput\tfilter\tforwd\tlength\tnonchim\n"
    "SRR200001_1.fastq\t50000\t20000\t19000\t18000\t12000\n"
    "SRR200002_1.fastq\t60000\t25000\t24000\t23000\t15000\n"
    "SRR200003_1.fastq\t40000\t39000\t38000\t37000\t36500\n"
)
SUMMARY_SAVE = (
    "\tdinput\tfilter\tforwd\trevse\tmerged\tlength\tnonchim\n"
    "SRR300001_1.fastq\t50000\t49000\t48500\t48000\t47500\t47000\t46500\n"
    "SRR300002_1.fastq\t60000\t59000\t58500\t58000\t57000\t56500\t56000\n"
)

# uid-suffixed so another user on a shared host can neither pre-create
# nor symlink-hijack the staging dir (ADVICE r10 #4); mode 0o700 and an
# ownership check close the remaining pre-creation race.
_STAGE_DIR = os.path.join(
    tempfile.gettempdir(), f"compendium_spark_fixtures_{os.getuid()}"
)


def _stage(name: str, text: str) -> str:
    """Write fixture ``text`` to a deterministic per-user path,
    atomically (tmp + rename), so concurrent plan runs never see a
    torn file and other users cannot plant the directory."""
    os.makedirs(_STAGE_DIR, mode=0o700, exist_ok=True)
    st = os.lstat(_STAGE_DIR)
    if st.st_uid != os.getuid() or os.path.islink(_STAGE_DIR):
        raise RuntimeError(f"fixture dir {_STAGE_DIR} not owned by us")
    path = os.path.join(_STAGE_DIR, name)
    tmp = f"{path}.tmp.{os.getpid()}"
    with open(tmp, "w") as f:
        f.write(text)
    os.replace(tmp, path)
    return path


def _sql_text(text: str) -> str:
    """Embed ``text`` as a DuckDB string literal (newline-safe)."""
    body = text.replace("'", "''").replace("\n", "' || chr(10) || '")
    return f"'{body}'"


# ---------------------------------------------------------------------------
# S1/U4: BioSample XML → tags (attr precedence, lower, last-wins)
# ---------------------------------------------------------------------------

def _xml_keyed_cte() -> str:
    """Shared oracle CTEs: BioSample elements keyed by SRA id — the
    regex re-derivation of the reader's Ids/Id[@db='SRA'] walk."""
    return f"""
raw AS (SELECT {_sql_text(BIOSAMPLE_XML)} AS xml),
bs AS (
  SELECT unnest(regexp_extract_all(xml, '<BioSample>.*?</BioSample>')) AS s
  FROM raw
),
keyed AS (
  SELECT regexp_extract(s, '<Id db="SRA">([^<]*)</Id>', 1) AS srs, s
  FROM bs
  WHERE s LIKE '%<Id db="SRA">%'
)"""


ING_XML_TAGS_SQL = f"""
WITH {_xml_keyed_cte()},
attrs AS (
  SELECT srs,
         unnest(regexp_extract_all(s, '<Attribute [^>]*>[^<]*</Attribute>')) AS a,
         unnest(range(1, len(regexp_extract_all(s, '<Attribute [^>]*>[^<]*</Attribute>')) + 1)) AS pos
  FROM keyed
),
tags0 AS (
  SELECT srs,
         CASE WHEN a LIKE '%harmonized_name=%'
              THEN regexp_extract(a, 'harmonized_name="([^"]*)"', 1)
              ELSE regexp_extract(a, 'attribute_name="([^"]*)"', 1) END AS tag,
         lower(replace(regexp_extract(a, '>([^<]*)<', 1), '&amp;', '&')) AS value,
         pos
  FROM attrs
  WHERE regexp_extract(a, '>([^<]*)<', 1) <> ''
),
dedup AS (
  SELECT srs, tag, value,
         ROW_NUMBER() OVER (PARTITION BY srs, tag ORDER BY pos DESC) AS rn
  FROM tags0
)
SELECT srs, tag, value FROM dedup WHERE rn = 1 ORDER BY srs, tag
"""


@plan("ing_xml_tags", oracle=ING_XML_TAGS_SQL)
def ing_xml_tags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BioSample XML → tags EAV (S1+U4+F10+A10, ref `db.py:248-259`):
    the REAL reader (`sources/biosample_xml.py` — Spark 4 native XML
    datasource, ElementTree mapInPandas fallback) parses a staged
    FIXTURES.md §1 export; @harmonized_name precedence, lower-cased
    values, empty-text skip, entity decode and last-wins dedup are all
    exercised and hash-checked against a regex re-derivation in the
    oracle. ``sf_dir`` is unused: the fixture IS the input (parser
    gate, not a data path).

    Shape: rowTag splitting makes the XML source splittable within a
    file; the last-wins dedup is one window per (srs, tag) — at scale
    partitioned by sample, never global."""
    path = _stage("biosample.xml", BIOSAMPLE_XML)
    parsed = read_biosample_xml(spark, path)
    return (
        to_tags(parsed)
        .select("srs", "tag", "value")
        .orderBy("srs", "tag")
    )


_EXISTING_IN = "(" + ", ".join(f"'{s}'" for s in EXISTING_SRS) + ")"

ING_XML_SAMPLES_SQL = f"""
WITH {_xml_keyed_cte()}
SELECT DISTINCT srs, '{TAXON}' AS taxon
FROM keyed
WHERE srs NOT IN {_EXISTING_IN}
ORDER BY srs
"""


@plan("ing_xml_samples", oracle=ING_XML_SAMPLES_SQL)
def ing_xml_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BioSample XML → samples rows (S1+J2, ref `db.py:229-246`): SRA
    id extraction (samples without one are SKIPPED, db.py:233-237),
    constant taxon column, and the already-ingested anti-join
    (db.py:215-221) — over the REAL reader on a staged fixture, so the
    attribute-free and no-SRA-id samples exercise the reader's null
    paths. Oracle = independent regex parse + NOT IN.

    Shape: distinct on the sample key then a broadcast-able anti-join
    against the existing-keys dim (at 100 TB: the existing set is the
    samples table's key projection — a shuffle anti-join on srs)."""
    path = _stage("biosample.xml", BIOSAMPLE_XML)
    parsed = read_biosample_xml(spark, path)
    existing = local_df(spark, [(s,) for s in EXISTING_SRS], "srs string")
    return to_samples(parsed, TAXON, existing=existing).orderBy("srs")


# ---------------------------------------------------------------------------
# S6: ASVs.fa strict 2-line FASTA
# ---------------------------------------------------------------------------

ING_FASTA_PAIRS_SQL = f"""
WITH raw AS (SELECT {_sql_text(FASTA_TEXT)} AS txt),
lines AS (
  SELECT unnest(string_split(txt, chr(10))) AS line,
         unnest(range(1, len(string_split(txt, chr(10))) + 1)) AS i
  FROM raw
),
paired AS (SELECT line, i, lead(line) OVER (ORDER BY i) AS nxt FROM lines)
SELECT substr(line, 2) AS asv, nxt AS seq
FROM paired WHERE line LIKE '>%' ORDER BY asv
"""


@plan("ing_fasta_pairs", oracle=ING_FASTA_PAIRS_SQL)
def ing_fasta_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ASVs.fa → (asv, seq) pairs (S6, ref `projects.py:446-459`):
    strict 2-line records, leading ``>`` stripped (projects.py:455),
    via the REAL `sources/fasta.py` reader (spark.read.text + per-file
    lead() pairing) on a staged fixture; oracle = line split + window
    lead in SQL.

    Shape: the pairing window partitions per file — parallel across
    files, no global sort; a multi-GB single-file FASTA would swap in
    the chunked mapPartitions parser noted in the source docstring."""
    path = _stage("asvs.fa", FASTA_TEXT)
    return read_fasta(spark, path).orderBy("asv")


# ---------------------------------------------------------------------------
# S4 + F5-F7 + A4-A7: summary.tsv → per-project QC disposition
# ---------------------------------------------------------------------------

def _summary_cte(name: str, text: str, paired: bool, project: str) -> str:
    """Oracle CTE: parse one summary.tsv literal (header skipped,
    chr(9) split, 8-char suffix strip per projects.py:581). Column
    POSITIONS are fixture-fixed; the Spark side derives them from the
    header via the real reader — the oracle re-derives the same rows
    independently."""
    revse = "CAST(c[5] AS BIGINT)" if paired else "NULL"
    merged = "CAST(c[6] AS BIGINT)" if paired else "NULL"
    length = "CAST(c[7] AS BIGINT)" if paired else "CAST(c[5] AS BIGINT)"
    nonchim = "CAST(c[8] AS BIGINT)" if paired else "CAST(c[6] AS BIGINT)"
    return f"""
{name} AS (
  SELECT '{project}' AS project,
         substr(c[1], 1, length(c[1]) - 8) AS srr,
         CAST(c[2] AS BIGINT) AS dinput, CAST(c[3] AS BIGINT) AS filter,
         CAST(c[4] AS BIGINT) AS forwd, {revse} AS revse, {merged} AS merged,
         {length} AS length, {nonchim} AS nonchim,
         {str(paired).upper()} AS is_paired
  FROM (
    SELECT string_split(unnest(string_split({_sql_text(text)}, chr(10))), chr(9)) AS c
  )
  WHERE len(c) > 1 AND c[2] <> 'dinput'
)"""


def _q6(expr: str, alias: str) -> str:
    return (
        f"CAST(FLOOR(CAST({expr} AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)"
        f" / 1000000.0 AS {alias}"
    )


ING_SUMMARY_DISPOSITION_SQL = f"""
WITH {_summary_cte('t1', SUMMARY_RERUN, True, 'PRJ_RERUN')},
{_summary_cte('t2', SUMMARY_DISCARD, False, 'PRJ_DISCARD')},
{_summary_cte('t3', SUMMARY_SAVE, True, 'PRJ_SAVE')},
summ AS (SELECT * FROM t1 UNION ALL SELECT * FROM t2 UNION ALL SELECT * FROM t3),
qc AS (
  SELECT *,
    1 - nonchim / nullif(length, 0) AS chimera_percent,
    CASE WHEN is_paired THEN merged / nullif(forwd, 0) END AS merged_percent,
    nonchim / nullif(dinput, 0) AS retained_percent
  FROM summ
),
flags AS (
  SELECT project, is_paired,
    coalesce(chimera_percent > 0.10, FALSE) AS chimeric_warn,
    coalesce(chimera_percent > 0.20, FALSE) AS chimeric_error,
    coalesce(merged_percent < 0.80, FALSE) AS merged_warn,
    coalesce(merged_percent < 0.65, FALSE) AS merged_error,
    coalesce(retained_percent < 0.69, FALSE) AS retained_warn,
    coalesce(retained_percent < 0.59, FALSE) AS retained_error
  FROM qc
),
proj AS (
  SELECT project,
    CAST(COUNT(*) AS BIGINT) AS sample_count,
    MIN(CAST(is_paired AS INT)) = 1 AS paired,
    SUM(CAST(chimeric_warn AS INT)) * 1.0 / COUNT(*) AS chimeric_warn,
    SUM(CAST(chimeric_error AS INT)) * 1.0 / COUNT(*) AS chimeric_error,
    SUM(CAST(merged_warn AS INT)) * 1.0 / COUNT(*) AS _mw,
    SUM(CAST(merged_error AS INT)) * 1.0 / COUNT(*) AS _me,
    SUM(CAST(retained_warn AS INT)) * 1.0 / COUNT(*) AS retained_warn,
    SUM(CAST(retained_error AS INT)) * 1.0 / COUNT(*) AS retained_error
  FROM flags GROUP BY project
),
proj2 AS (
  SELECT project, sample_count, paired, chimeric_warn, chimeric_error,
    CASE WHEN paired THEN _mw END AS merged_warn,
    CASE WHEN paired THEN _me END AS merged_error,
    retained_warn, retained_error
  FROM proj
),
disp AS (
  SELECT *,
    coalesce(merged_warn > 0.40, FALSE)
      OR coalesce(merged_error > 0.15, FALSE) AS re_run
  FROM proj2
),
disp2 AS (
  SELECT *,
    (NOT re_run) AND (coalesce(retained_warn > 0.70, FALSE)
      OR coalesce(retained_error > 0.20, FALSE)
      OR coalesce(chimeric_warn > 0.40, FALSE)
      OR coalesce(chimeric_error > 0.20, FALSE)) AS discard
  FROM disp
)
SELECT project, sample_count, paired,
  {_q6('chimeric_warn', 'chimeric_warn')},
  {_q6('chimeric_error', 'chimeric_error')},
  {_q6('merged_warn', 'merged_warn')},
  {_q6('merged_error', 'merged_error')},
  {_q6('retained_warn', 'retained_warn')},
  {_q6('retained_error', 'retained_error')},
  re_run, discard,
  coalesce(array_to_string(list_filter([
    CASE WHEN coalesce(merged_warn > 0.40, FALSE) THEN
      printf('%d%% of samples had warning for merged read count.',
             CAST(FLOOR(merged_warn * 100) AS INT)) END,
    CASE WHEN coalesce(merged_error > 0.15, FALSE) THEN
      printf('%d%% of samples had ERROR for merged read count.',
             CAST(FLOOR(merged_error * 100) AS INT)) END,
    CASE WHEN NOT re_run AND coalesce(retained_warn > 0.70, FALSE) THEN
      printf('%d%% of samples had warning for reads retained.',
             CAST(FLOOR(retained_warn * 100) AS INT)) END,
    CASE WHEN NOT re_run AND coalesce(retained_error > 0.20, FALSE) THEN
      printf('%d%% of samples had ERROR for reads retained.',
             CAST(FLOOR(retained_error * 100) AS INT)) END,
    CASE WHEN NOT re_run AND coalesce(chimeric_warn > 0.40, FALSE) THEN
      printf('%d%% of samples had warning for chimeric read count.',
             CAST(FLOOR(chimeric_warn * 100) AS INT)) END,
    CASE WHEN NOT re_run AND coalesce(chimeric_error > 0.20, FALSE) THEN
      printf('%d%% of samples had ERROR for chimeric read count.',
             CAST(FLOOR(chimeric_error * 100) AS INT)) END
  ], x -> x IS NOT NULL), '|'), '') AS errors,
  CASE WHEN discard THEN 'discard' WHEN re_run THEN 're_run'
       ELSE 'save' END AS decision
FROM disp2 ORDER BY project
"""


@plan("ing_summary_disposition", oracle=ING_SUMMARY_DISPOSITION_SQL)
def ing_summary_disposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """summary.tsv → per-project QC disposition — the reference's full
    results-evaluation chain end-to-end (S4 parse `projects.py:203-226`
    → F5-F7 null-safe ratios `projects.py:599-629` → A4/A5/A7
    proportions + ALL-pairedness `projects.py:233-311` → A6 decision
    with the re_run short-circuit `projects.py:294-296` and the
    ``int(p*100)%`` error strings) over the REAL `sources/tsv.py`
    reader + `functions/qc.py` engine on three staged fixture files
    hitting save / re_run / discard, a zero-count control row, and a
    single-end project (NULL merged stats). Oracle re-parses the same
    TSV literals in SQL.

    Shape: per-sample scalars scan-side, ONE hash-agg shuffle on
    project, disposition scalar on |projects| rows — the same plan the
    production `cli.py eval` path runs on real summary files."""
    p1 = _stage("summary_rerun.tsv", SUMMARY_RERUN)
    p2 = _stage("summary_discard.tsv", SUMMARY_DISCARD)
    p3 = _stage("summary_save.tsv", SUMMARY_SAVE)
    summ = (
        read_summary(spark, p1, project="PRJ_RERUN")
        .unionByName(read_summary(spark, p2, project="PRJ_DISCARD"))
        .unionByName(read_summary(spark, p3, project="PRJ_SAVE"))
    )
    disp = project_disposition(project_qc(sample_qc(summ)))
    return disp.select(
        "project",
        "sample_count",
        "paired",
        quantize6("chimeric_warn").alias("chimeric_warn"),
        quantize6("chimeric_error").alias("chimeric_error"),
        quantize6("merged_warn").alias("merged_warn"),
        quantize6("merged_error").alias("merged_error"),
        quantize6("retained_warn").alias("retained_warn"),
        quantize6("retained_error").alias("retained_error"),
        "re_run",
        "discard",
        F.concat_ws("|", "errors").alias("errors"),
        "decision",
    ).orderBy("project")


# ---------------------------------------------------------------------------
# Registered in round 11 (built + oracle-pinned on-deck in round 10;
# their sf0.1 parity rows are in the tests/test_parity.py matrix)
# ---------------------------------------------------------------------------

# EFetch EXPERIMENT_PACKAGE fixture (FIXTURES.md §2 / ref db.py:388-438
# fields), single-line so the oracle regexes never straddle lines.
# Edge cases: multi-run ;-join with last-wins run attrs, 0-run package
# skipped, minimal package (no optionals), non-BioProject EXTERNAL_ID
# ignored, two SAMPLE tags (iteration keeps the LAST accession).
EFETCH_XML = (
    "<EXPERIMENT_PACKAGE_SET>"
    "<EXPERIMENT_PACKAGE>"
    '<SAMPLE accession="SRS000001"><TITLE>s1</TITLE></SAMPLE>'
    "<LIBRARY_STRATEGY>AMPLICON</LIBRARY_STRATEGY>"
    "<LIBRARY_SOURCE>METAGENOMIC</LIBRARY_SOURCE>"
    "<INSTRUMENT_MODEL>Illumina MiSeq</INSTRUMENT_MODEL>"
    '<EXTERNAL_ID namespace="GEO">GSE0001</EXTERNAL_ID>'
    '<EXTERNAL_ID namespace="BioProject">PRJNA100001</EXTERNAL_ID>'
    '<RUN accession="SRR900001" published="2020-01-02 11:22:33" total_bases="123456"/>'
    "</EXPERIMENT_PACKAGE>"
    "<EXPERIMENT_PACKAGE>"
    '<SAMPLE accession="SRS000002"/>'
    "<LIBRARY_STRATEGY>WGS</LIBRARY_STRATEGY>"
    '<RUN accession="SRR900002" published="2019-05-06 01:02:03" total_bases="111"/>'
    '<RUN accession="SRR900003" published="2019-06-07 04:05:06" total_bases="222"/>'
    "</EXPERIMENT_PACKAGE>"
    "<EXPERIMENT_PACKAGE>"
    '<SAMPLE accession="SRS000003"/>'
    "<LIBRARY_STRATEGY>AMPLICON</LIBRARY_STRATEGY>"
    "</EXPERIMENT_PACKAGE>"
    "<EXPERIMENT_PACKAGE>"
    '<SAMPLE accession="SRS000098"/><SAMPLE accession="SRS000004"/>'
    '<RUN accession="SRR900004"/>'
    "</EXPERIMENT_PACKAGE>"
    "</EXPERIMENT_PACKAGE_SET>"
)


ING_XML_RUNS_SQL = f"""
WITH raw AS (SELECT {_sql_text(EFETCH_XML)} AS xml),
pkg AS (
  SELECT unnest(regexp_extract_all(
           xml, '<EXPERIMENT_PACKAGE>.*?</EXPERIMENT_PACKAGE>')) AS s
  FROM raw
),
fields AS (
  SELECT
    list_extract(
      regexp_extract_all(s, '<SAMPLE accession="([^"]*)"', 1),
      len(regexp_extract_all(s, '<SAMPLE accession="([^"]*)"', 1))) AS srs,
    array_to_string(
      regexp_extract_all(s, '<RUN accession="([^"]*)"', 1), ';') AS srr,
    CASE WHEN s LIKE '%namespace="BioProject"%'
         THEN regexp_extract(s,
              'namespace="BioProject">([^<]*)<', 1) END AS project,
    CASE WHEN s LIKE '%<LIBRARY_STRATEGY>%'
         THEN regexp_extract(s, '<LIBRARY_STRATEGY>([^<]*)<', 1)
    END AS library_strategy,
    CASE WHEN s LIKE '%<LIBRARY_SOURCE>%'
         THEN regexp_extract(s, '<LIBRARY_SOURCE>([^<]*)<', 1)
    END AS library_source,
    CASE WHEN len(regexp_extract_all(s, 'published="([^"]*)"', 1)) > 0
         THEN list_extract(regexp_extract_all(s, 'published="([^"]*)"', 1),
              len(regexp_extract_all(s, 'published="([^"]*)"', 1))) END
      AS pubdate,
    CASE WHEN len(regexp_extract_all(s, 'total_bases="([^"]*)"', 1)) > 0
         THEN CAST(list_extract(
                regexp_extract_all(s, 'total_bases="([^"]*)"', 1),
                len(regexp_extract_all(s, 'total_bases="([^"]*)"', 1)))
              AS BIGINT) END AS total_bases,
    CASE WHEN s LIKE '%<INSTRUMENT_MODEL>%'
         THEN regexp_extract(s, '<INSTRUMENT_MODEL>([^<]*)<', 1)
    END AS instrument
  FROM pkg
)
SELECT * FROM fields WHERE srr <> '' ORDER BY srs
"""


@plan("ing_xml_runs", oracle=ING_XML_RUNS_SQL)
def ing_xml_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EFetch XML → staged run updates (S3+U3, ref `db.py:388-438`):
    the REAL `pipeline/enrichment.parse_efetch_response` parses a
    FIXTURES.md §2 EXPERIMENT_PACKAGE export; per package the LAST
    SAMPLE accession keys the row, runs join with ';' (the reference's
    stored form, db.py:421-431 — the engine's array form is projected
    through concat_ws for the hash), run attributes are last-wins
    across RUN elements, 0-run packages are SKIPPED (db.py:433-438),
    and only the BioProject EXTERNAL_ID is read. Oracle = independent
    regex re-derivation over the same XML literal.

    Shape note: the parse is a pure function over one fetched response
    (the transport adapter's unit); at scale responses land one-per-
    batch and parse map-side — this plan gates the parser itself."""
    staged = parse_efetch_response(EFETCH_XML)
    rows = [
        (
            d["srs"],
            ";".join(d["srr"]),
            d["project"],
            d["library_strategy"],
            d["library_source"],
            d["pubdate"],
            d["total_bases"],
            d["instrument"],
        )
        for d in staged
    ]
    schema = (
        "srs string, srr string, project string, library_strategy string, "
        "library_source string, pubdate string, total_bases long, "
        "instrument string"
    )
    return local_df(spark, rows, schema).orderBy("srs")


# Wide ASV count matrix fixture (FIXTURES.md §4 / ref projects.py:418-440):
# blank first header cell, zero cells dropped by the melt.
ASV_COUNTS_TSV = (
    "\tSRR001\tSRR002\tSRR003\n"
    "ASV_1\t23\t0\t114\n"
    "ASV_2\t0\t7\t9\n"
    "ASV_3\t5\t5\t0\n"
    "ASV_4\t0\t0\t0\n"
)

ING_ASV_MELT_SQL = f"""
WITH lines AS (
  SELECT string_split(unnest(string_split({_sql_text(ASV_COUNTS_TSV)},
         chr(10))), chr(9)) AS c
),
hdr AS (SELECT c FROM lines WHERE c[1] = '' LIMIT 1),
rows_ AS (SELECT c FROM lines WHERE len(c) > 1 AND c[1] <> ''),
long_ AS (
  SELECT h.c[i] AS sample, r.c[1] AS asv, CAST(r.c[i] AS BIGINT) AS count
  FROM rows_ r
  CROSS JOIN hdr h
  CROSS JOIN (SELECT unnest(range(2, 5)) AS i)
)
SELECT sample, asv, count FROM long_ WHERE count <> 0
ORDER BY sample, asv
"""


@plan("ing_asv_counts_melt", oracle=ING_ASV_MELT_SQL)
def ing_asv_counts_melt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide ASV matrix → long counts with zero-drop (S5+T1+P7, ref
    `projects.py:418-440`): the staged fixture goes through the REAL
    `sources/tsv.py` readers — header-defined dynamic schema
    (read_counts_wide) then the built-in unpivot with the zero filter
    (melt_counts). entryid (xxhash64 surrogate) is projected away:
    surrogate keys are engine-specific by design (SURVEY §7.2).

    Shape: unpivot is row-local (no shuffle); the zero-drop happens
    before anything is stored — at 100 TB the melt output is the
    sparse nonzero stream, never the dense matrix."""
    path = _stage("asv_counts.tsv", ASV_COUNTS_TSV)
    wide = read_counts_wide(spark, path)
    return (
        melt_counts(wide)
        .select("sample", "asv", "count")
        .orderBy("sample", "asv")
    )


# Taxonomy TSV fixture (FIXTURES.md §6 / ref projects.py:461-468):
# ASV label + 6 ranks; constant tdatabase (projects.py:517).
TAXONOMY_TSV = (
    "\tKingdom\tPhylum\tClass\tOrder\tFamily\tGenus\n"
    "ASV_1\tBacteria\tFirmicutes\tClostridia\tOscillospirales\tRuminococcaceae\tFaecalibacterium\n"
    "ASV_2\tBacteria\tBacteroidota\tBacteroidia\tBacteroidales\tBacteroidaceae\tBacteroides\n"
    "ASV_3\tArchaea\tEuryarchaeota\tMethanobacteria\tMethanobacteriales\tMethanobacteriaceae\tNA\n"
)

ING_TAXONOMY_SQL = f"""
WITH lines AS (
  SELECT string_split(unnest(string_split({_sql_text(TAXONOMY_TSV)},
         chr(10))), chr(9)) AS c
)
SELECT c[1] AS asv, c[2] AS kingdom, c[3] AS phylum, c[4] AS tclass,
       c[5] AS torder, c[6] AS family, c[7] AS genus,
       'silva_nr99_v138_train_set' AS tdatabase
FROM lines WHERE len(c) > 1 AND c[1] <> ''
ORDER BY asv
"""


@plan("ing_taxonomy", oracle=ING_TAXONOMY_SQL)
def ing_taxonomy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Taxonomy TSV → asv_assignments columns (S7, ref
    `projects.py:461-468` + the constant tdatabase at 517), through
    the REAL `sources/tsv.py read_taxonomy` (positional columns off
    the header-defined schema). Oracle = chr(9)-split re-parse."""
    path = _stage("taxonomy.tsv", TAXONOMY_TSV)
    return read_taxonomy(spark, path).orderBy("asv")


# sources.txt keep/toss fixture (FIXTURES.md / ref helpers.py:1-23).
# Case-sensitivity is the documented reference behavior (raw keyword
# substring match): the upper-case line matches no keep keyword.
SOURCES_TXT = (
    "human stool sample\n"
    "fecal culture isolate\n"
    "ocean water\n"
    "infant meconium\n"
    "rectal swab\n"
    "sample collected 2003\n"
    "Stool Sample\n"
    "faecal matter from donor\n"
    "soil from fecal site\n"
)


def _sources_sql() -> str:
    from compendium_spark.functions.sources_filter import (  # noqa: PLC0415
        TO_KEEP,
        TO_TOSS,
    )

    keep = "|".join(TO_KEEP)
    toss = "|".join(TO_TOSS)
    return f"""
WITH lines AS (
  SELECT unnest(string_split({_sql_text(SOURCES_TXT)}, chr(10))) AS source
)
SELECT source,
       CASE WHEN regexp_matches(source, '{keep}')
                 AND NOT regexp_matches(source, '{toss}')
            THEN 'yes' ELSE 'no' END AS decision
FROM lines WHERE source <> ''
ORDER BY source
"""


@plan("ing_sources_decisions", oracle=_sources_sql())
def ing_sources_decisions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sources.txt → keep/toss decisions (S8+P6+K4, ref
    `helpers.py:1-23`): the staged fixture goes through spark.read.text
    + the REAL `functions/sources_filter.classify_sources` (keyword
    alternations as two codegen'd rlike predicates — keep requires ≥1
    keep-keyword AND 0 toss-keywords); oracle = the same alternations
    via regexp_matches over the literal. Covers keep-only, keep+toss
    veto, toss-only, no-keyword, numeric keyword, and the
    case-sensitivity contract.

    Shape: two scan-stage regexes, no shuffle at all — the decision
    column is written back beside the source at any scale."""
    from compendium_spark.functions.sources_filter import (  # noqa: PLC0415
        classify_sources,
    )

    path = _stage("sources.txt", SOURCES_TXT)
    src = spark.read.text(path).withColumnRenamed("value", "source")
    return classify_sources(src).select("source", "decision").orderBy("source")


# Geo dimension fixtures (ref db.py:104-117 declares the tables but
# ships no loader; FIXTURES.md shapes). The samples side is a literal
# frame — the dims and the snowflake are what this plan gates.
GEO_TSV = (
    "geo_loc_name\tiso2\n"
    "usa: minnesota\tUS\n"
    "usa: california\tUS\n"
    "canada: toronto\tCA\n"
    "united kingdom\tGB\n"
)
COUNTRIES_TSV = (
    "iso2\tname\tregion\n"
    "US\tUnited States\tAmericas\n"
    "CA\tCanada\tAmericas\n"
    "GB\tUnited Kingdom\tEurope\n"
    "FR\tFrance\tEurope\n"
)
GEO_SAMPLES = [
    ("SRS1", "PRJ1", "usa: minnesota"),
    ("SRS2", "PRJ1", "usa: california"),
    ("SRS3", "PRJ2", "canada: toronto"),
    ("SRS4", "PRJ2", "united kingdom"),
    ("SRS5", "PRJ3", "mars colony"),
    ("SRS6", "PRJ3", None),
]


def _geo_sql() -> str:
    samples_rows = ", ".join(
        "(" + ", ".join("NULL" if v is None else f"'{v}'" for v in row) + ")"
        for row in GEO_SAMPLES
    )
    return f"""
WITH geo AS (
  SELECT c[1] AS geo_loc_name, c[2] AS iso2 FROM (
    SELECT string_split(unnest(string_split({_sql_text(GEO_TSV)},
           chr(10))), chr(9)) AS c
  ) WHERE len(c) > 1 AND c[1] <> 'geo_loc_name'
),
ctry AS (
  SELECT c[1] AS iso2, c[2] AS name, c[3] AS region FROM (
    SELECT string_split(unnest(string_split({_sql_text(COUNTRIES_TSV)},
           chr(10))), chr(9)) AS c
  ) WHERE len(c) > 1 AND c[1] <> 'iso2'
),
samples AS (
  SELECT * FROM (VALUES {samples_rows}) s(srs, project, geo_loc_name)
)
SELECT COALESCE(ct.region, '<unmapped>') AS region,
       COALESCE(ct.name, '<unmapped>') AS country,
       CAST(COUNT(DISTINCT s.srs) AS BIGINT) AS n_samples,
       CAST(COUNT(DISTINCT s.project) AS BIGINT) AS n_projects
FROM samples s
LEFT JOIN geo g ON s.geo_loc_name = g.geo_loc_name
LEFT JOIN ctry ct ON g.iso2 = ct.iso2
GROUP BY 1, 2
ORDER BY region, country
"""


@plan("ing_geo_summary", oracle=_geo_sql())
def ing_geo_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geo dimension ingest + snowflake report (ref `db.py:104-117`
    declares geo_loc_countries/countries but ships no loader; this is
    the load-and-use path): staged TSV fixtures through the REAL
    `sources/tsv.py read_geo_countries` / `read_countries`, joined by
    `pipeline/status.geo_summary` (samples → geo_loc_countries →
    countries, unmapped/null geo values rolled up under '<unmapped>').
    Oracle = chr(9)-split re-parse of the same TSVs + VALUES samples.

    Shape: two broadcast dims (≤249 rows by ISO-3166 semantics) into a
    scan-side join, one (region, country)-keyed aggregate."""
    from compendium_spark.pipeline.status import geo_summary  # noqa: PLC0415
    from compendium_spark.sources.tsv import (  # noqa: PLC0415
        read_countries,
        read_geo_countries,
    )

    geo = read_geo_countries(spark, _stage("geo_loc_countries.tsv", GEO_TSV))
    ctry = read_countries(spark, _stage("countries.tsv", COUNTRIES_TSV))
    samples = local_df(
        spark, GEO_SAMPLES, "srs string, project string, geo_loc_name string"
    )
    return geo_summary(samples, geo, ctry)
