"""Test-data table loading and the size gates over those tables.

The driver provides deterministic TPC-H-ish parquet at
``/root/testdata/sf{0.001,0.01,0.1}`` (TESTDATA.md). These helpers load
them with explicit paths or URIs — in production these would be catalog
tables (``spark.table``) partitioned/bucketed per §"scale notes" in each
plan module.

Every scale decision a plan makes reads the table's size from Spark
itself (:func:`scan_bytes`, the relation's Catalyst statistic) and the
session's ``maxPartitionBytes``: :func:`spread_parts` for manual
compute spreads, :func:`maybe_broadcast` for broadcast hints and
:func:`table_num_rows` for footer row counts. None of them walks the
local filesystem, so a ``file://`` or ``s3a://`` address gets the same
decisions as a plain path.
"""

from __future__ import annotations

import os

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _normalize_timestamps(df: DataFrame) -> DataFrame:
    """Cast every TIMESTAMP_NTZ column to TIMESTAMP.

    The driver's parquet stores `events.ts` as timezone-less
    timestamp[us]; Spark 4 infers TIMESTAMP_NTZ for it, but functions
    like ``F.unix_micros`` require TIMESTAMP. The session timezone is
    pinned to UTC (session.py), so the cast is lossless — wall-clock
    values are unchanged — and doing it once here keeps every plan free
    of per-column casts (and immune to future testdata dtype drift).
    """
    ntz_cols = [f.name for f in df.schema.fields if f.dataType.typeName() == "timestamp_ntz"]
    for c in ntz_cols:
        df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


# Analyzed-scan cache: (applicationId, sf_dir, name) -> DataFrame.
# This is the session CATALOG role (the module docstring's "in
# production these would be catalog tables"): a bare
# spark.read.parquet(path) re-lists the directory, re-reads parquet
# footers and re-analyzes the relation on EVERY call — measured
# ~85 ms of driver-side work per call, ~357 load() calls per registry
# sweep. A catalog/metastore resolves a table to an already-analyzed
# relation once per session; caching the DataFrame here is exactly
# that (metadata only — the PLAN is cached, never data or results:
# every action still scans the parquet files afresh, and nothing is
# persisted). Keyed by applicationId so a stopped/rebuilt session can
# never serve stale JVM references; stale-app entries are purged on
# insert to keep the dict bounded.
_scan_cache: dict[tuple[str, str, str], DataFrame] = {}


def clear_scan_cache() -> None:
    """Invalidate every cached analyzed scan (the catalog's REFRESH
    TABLE). Needed only if files under an sf_dir are regenerated
    mid-application — cached frames pin the relation's file listing,
    so a regeneration would otherwise serve deleted/stale listings
    (ADVICE r14)."""
    _scan_cache.clear()


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one testdata table. Parquet → full pushdown/pruning.

    Timestamp handling has to survive driver-side data regeneration:
    older testdata stored `events.ts` as parquet TIMESTAMP(NANOS)
    (read as long + converted), newer testdata stores timestamp[us]
    with no timezone (inferred TIMESTAMP_NTZ, normalized to TIMESTAMP).
    """
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLE_NAMES}")
    app = spark.sparkContext.applicationId
    key = (app, os.path.abspath(sf_dir), name)
    cached = _scan_cache.get(key)
    if cached is not None:
        return cached
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        if dict(df.dtypes).get("ts") == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        df = _normalize_timestamps(df)
    else:
        df = _normalize_timestamps(spark.read.parquet(f"{sf_dir}/{name}.parquet"))
    for k in [k for k in _scan_cache if k[0] != app]:
        del _scan_cache[k]
    _scan_cache[key] = df
    return df


# Broadcast only dims whose scan stays under this budget. nation/region
# are constant-size (25/5 rows at every SF) and always qualify;
# customer/part/supplier grow linearly with SF and fall back to AQE's
# runtime strategy choice once they outgrow the budget — a forced
# F.broadcast() on an SF-scaling table is an executor OOM at 100 TB,
# so the hint must be size-gated, never unconditional.
BROADCAST_BUDGET_BYTES = 64 * 1024 * 1024


def scan_bytes(df: DataFrame) -> int:
    """Catalyst's size estimate for ``df``: the optimized plan's
    ``stats().sizeInBytes``. For a bare file scan that is the sum of
    the listed file sizes — the catalog statistic a metastore would
    serve — read from the relation Spark already resolved, on a plain
    path or a ``file://``/``s3a://`` URI alike. Driver-side only: no
    Spark job runs, and the optimized plan is cached on ``df``, so a
    repeat call on a cached ``load()`` frame is a py4j roundtrip."""
    return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())


def table_num_rows(spark: SparkSession, sf_dir: str, name: str) -> int | None:
    """Exact row count from parquet FOOTER metadata — zero Spark jobs.

    This is the catalog-statistics read the regime guards document
    ("the count is a parquet metadata read"): a production metastore
    answers COUNT(*) from table stats without scheduling a scan. The
    footers are those of the table's own file listing
    (``load(...).inputFiles()``), opened through pyarrow's filesystem
    for the URI's scheme. Returns None when they cannot be read (a
    scheme pyarrow has no filesystem for, such as ``s3a``); the caller
    then falls back to a real ``.count()`` job."""
    import pyarrow as pa  # noqa: PLC0415
    import pyarrow.parquet as pq  # noqa: PLC0415
    from pyarrow import fs  # noqa: PLC0415

    try:
        total = 0
        for uri in load(spark, sf_dir, name).inputFiles():
            filesystem, path = fs.FileSystem.from_uri(uri)
            with filesystem.open_input_file(path) as f:
                total += pq.ParquetFile(f).metadata.num_rows
        return total
    except (AnalysisException, pa.ArrowException, OSError):
        return None  # stats miss: the caller runs count()


def spread_parts(
    spark: SparkSession, sf_dir: str, name: str, part_bytes: int | None = None
) -> int | None:
    """Width for the manual compute-spread repartition over ``name``,
    or None when the repartition should be SKIPPED because the scan's
    natural splits already provide it.

    The testdata tables are one parquet file each, so a heavy per-row
    stage (tokenize+shingle+md5, Arrow kernels) downstream of a bare
    scan runs on ONE core; the plans spread such scans. But that width
    is a LOCAL-MODE fact: at 100 TB the same table scans as thousands
    of natural splits and an unconditional repartition becomes a full
    shuffle of the corpus that only REDUCES parallelism. So the gate
    derives the width from input size, never from a constant tuned for
    local mode or for the cluster:

    - the target width is ``defaultParallelism``; with ``part_bytes``
      it is ``ceil(bytes / part_bytes)``, clamped to [1, par];
    - the scan's natural splits are ``ceil(bytes / maxPartitionBytes)``,
      with ``bytes`` from :func:`scan_bytes` and ``maxPartitionBytes``
      from the session;
    - once the splits reach the target, the repartition is skipped.

    Spark's ``openCostInBytes``/bytes-per-core term is deliberately
    left out: it cuts a single-row-group file into several splits of
    which only one holds rows, so counting them would skip spreads a
    one-row-group table still needs. At every bench SF the documents
    and events spreads stay at full core width (narrower widths measured
    slower for the shingle-heavy plans at sf0.1).
    """
    par = spark.sparkContext.defaultParallelism
    b = scan_bytes(load(spark, sf_dir, name))
    target = par if part_bytes is None else max(1, min(par, -(-b // part_bytes)))
    mpb = spark._jsparkSession.sessionState().conf().filesMaxPartitionBytes()
    if -(-b // mpb) >= target:
        return None
    return target


def maybe_broadcast(
    spark: SparkSession, sf_dir: str, name: str, df: DataFrame | None = None
) -> DataFrame:
    """Load ``name`` (or take a pre-filtered ``df`` over it) and attach
    a broadcast hint only if the table fits the broadcast budget. The
    size is the table's Catalyst statistic (:func:`scan_bytes` of the
    whole table, not of ``df``, so the decision is one per table); an
    unresolvable table never gets the hint."""
    out = df if df is not None else load(spark, sf_dir, name)
    try:
        small = scan_bytes(load(spark, sf_dir, name)) <= BROADCAST_BUDGET_BYTES
    except AnalysisException:
        small = False
    return F.broadcast(out) if small else out


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every testdata table as a temp view for the SQL API."""
    for name in TABLE_NAMES:
        load(spark, sf_dir, name).createOrReplaceTempView(name)
