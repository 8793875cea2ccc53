"""Project state machine + orchestration queries (SURVEY §2.4 A1-A3,
§2.2 P4/P5, §2.3 J5, §3.3).

The reference drives a per-project lifecycle column
(`status.status`: initialized → accession_list_created → running →
[to_re_run|complete] → archived → done | failed; README.md:102-111)
via point UPDATEs. Here `status` is a driver-held control table (one
row per project): `apply_transitions` computes a batch of transitions
on the driver against the stored rows as a pyarrow Table, and
`pipeline.orchestrate` commits the result as one Arrow write of the
table — no Spark job per transition. The non-terminal listing reads
the same driver-side rows; the project picker and the report queries
are pure DataFrame transforms.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from compendium_spark.schemas import TERMINAL_STATUSES

# One transition row holds these fields, in this order. A null field
# keeps the stored value.
TRANSITION_FIELDS = ("project", "status", "rerun_as_single_end", "note1", "note2")


def non_terminal_projects(status: pa.Table) -> list[str]:
    """P5 (`management.py:17-20`): WHERE status NOT IN ('done','failed'),
    over the stored rows on the driver."""
    return [r["project"] for r in status.to_pylist() if r["status"] not in TERMINAL_STATUSES]


def apply_transitions(status: pa.Table, rows: list[tuple]) -> pa.Table:
    """Apply ``TRANSITION_FIELDS`` rows, in order, to the stored status
    table: the reference's column-wise UPDATEs (`projects.py:87-106`),
    where only a row's non-null fields change, and its registration
    INSERT for a project the table does not know yet, which gets
    rerun_as_single_end=0 unless the row sets it (the table DEFAULT,
    db.py:137-146). `paired` and the notes a row leaves null keep
    their stored values. Stored rows keep their order; new projects
    follow in transition order. Pure: returns a new Table with
    ``status``'s schema."""
    by_project = {r["project"]: r for r in status.to_pylist()}
    for row in rows:
        new = dict.fromkeys(status.column_names) | {"project": row[0], "rerun_as_single_end": 0}
        stored = by_project.setdefault(row[0], new)
        stored.update((k, v) for k, v in zip(TRANSITION_FIELDS, row) if v is not None)
    return pa.Table.from_pylist(list(by_project.values()), schema=status.schema)


def eligible_samples(samples: DataFrame, project: str | None = None) -> DataFrame:
    """P4 (`projects.py:67-73`): srr present, GENOMIC|METAGENOMIC,
    AMPLICON[, project]. srr is array-typed here, so 'IS NOT NULL'
    becomes size>0 (SURVEY §1.3)."""
    cond = (
        F.col("srr").isNotNull()
        & (F.size("srr") > 0)
        & F.col("library_source").isin("GENOMIC", "METAGENOMIC")
        & (F.col("library_strategy") == "AMPLICON")
    )
    if project is not None:
        cond = cond & (F.col("project") == project)
    return samples.filter(cond)


def find_todo(
    samples: DataFrame,
    status: DataFrame,
    min_samples: int = 50,
    max_samples: int = 10000,
    needed: int | None = None,
    seed: int = 42,
) -> DataFrame:
    """A1 project picker (`management.py:90-125`): group eligible
    samples per project, band-filter on count, exclude projects
    already tracked in `status`, random-pick `needed`.

    Fixes Quirk Q3 by design: the reference's final membership check
    compares result *tuples* against a list of id *strings*
    (`management.py:125`), so it never excludes anything; the correct
    exclusion is a left-anti join on project.
    """
    candidates = (
        eligible_samples(samples)
        .groupBy("project")
        .agg(F.count(F.lit(1)).alias("samples"))
        .filter(F.col("samples").between(min_samples, max_samples))
    )
    picked = candidates.join(
        status.select("project"), on="project", how="left_anti"
    )  # J5, corrected semantics
    picked = picked.orderBy(F.rand(seed))
    if needed is not None:
        picked = picked.limit(needed)
    return picked


def status_frequency(status: DataFrame) -> DataFrame:
    """A3 (`management.py:151-156`): SELECT status, COUNT(DISTINCT
    project) GROUP BY 1 ORDER BY 2 DESC."""
    return (
        status.groupBy("status")
        .agg(F.countDistinct("project").alias("n_projects"))
        .orderBy(F.desc("n_projects"), "status")
    )


def geo_summary(
    samples: DataFrame, geo_loc_countries: DataFrame, countries: DataFrame
) -> DataFrame:
    """Samples per country/region through the geo snowflake
    (ref `db.py:92-117`: samples.geo_loc_name → geo_loc_countries →
    countries — the native form of plan j7_snowflake_dims). Both dims
    broadcast; unmapped geo_loc_name values roll up under
    '<unmapped>' rather than silently dropping."""
    return (
        samples.join(F.broadcast(geo_loc_countries), "geo_loc_name", "left")
        .join(F.broadcast(countries), "iso2", "left")
        .groupBy(
            F.coalesce("region", F.lit("<unmapped>")).alias("region"),
            F.coalesce("name", F.lit("<unmapped>")).alias("country"),
        )
        .agg(
            F.countDistinct("srs").alias("n_samples"),
            F.countDistinct("project").alias("n_projects"),
        )
        .orderBy("region", "country")
    )


def compendium_summary(samples: DataFrame, asv_counts: DataFrame) -> DataFrame:
    """A2 compendium report (`management.py:127-159`). Quirk Q4 fixed:
    the reference counts DISTINCT `sample` on a table whose column is
    `srs` (`management.py:133-135`); we count the real key."""
    s = samples.agg(
        F.countDistinct("project").alias("n_projects"),
        F.countDistinct("srs").alias("n_samples"),
    )
    a = asv_counts.agg(
        F.countDistinct("sample").alias("n_result_samples"),
        F.countDistinct("asv").alias("n_asvs"),
    )
    return s.crossJoin(a)
