"""Parquet warehouse — the engine's stored-table layer.

Replaces the reference's single SQLite file (`db.py:24`) with a
directory of parquet tables, one per schema in schemas.ALL_TABLES.
`init_tables` is the idempotent DDL (`db.py:29`, `db.py:85-186`:
CREATE TABLE IF NOT EXISTS); writes go through a staging directory so
a table can be rewritten from a plan that reads it (no partial state
on failure).

Two write paths share that staging-and-swap commit. A DataFrame is
written by a Spark job. A pyarrow Table is written by the driver as
one parquet file, with no Spark job: the DDL's empty tables and the
`status` control table's transitions (one row per project, committed
by `pipeline.orchestrate`) take this path, and `read_arrow` is its
driver-side reader. Distributed data keeps the Spark path.

At scale the warehouse maps onto a real catalog (saveAsTable +
partitioning: samples by project prefix, asv_counts bucketed by
sample); the parquet-dir form keeps the engine dependency-free here.
"""

from __future__ import annotations

import shutil
from collections.abc import Callable
from pathlib import Path

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema

from compendium_spark.localframe import local_df
from compendium_spark.operators.merge import partial_update, upsert
from compendium_spark.operators.validate import validate_arrow, validate_schema
from compendium_spark.schemas import ALL_TABLES

# Tables stored hive-partitioned on their natural partition key. An
# upsert or partial_update on a partitioned table rewrites ONLY the
# touched partitions (partition-level swap below) — at 100 TB this is
# the difference between a per-project merge costing O(project) and
# O(warehouse). `samples` partitions on taxon (one taxon per
# compendium run, main.py:27): the eUtils enrichment sweep
# partial-updates run fields keyed on srs and never moves a sample
# across taxa, so every status/enrichment sweep is partition-stable.
# `status` stays unpartitioned deliberately — it is a |projects|-row
# control table, and hive-partitioning it would mean one directory
# per row.
PARTITION_SPEC: dict[str, str] = {
    "asv_sequences": "project",
    "asv_inference": "project",
    "samples": "taxon",
}


class Warehouse:
    def __init__(
        self,
        spark: SparkSession,
        root: str,
        extra_tables: dict | None = None,
    ):
        """``extra_tables`` registers auxiliary schemas beyond the
        reference's nine (name -> StructType) — e.g. a streaming
        materialized view maintained by foreachBatch needs a stored
        home with the same staged-write/merge machinery. Extra tables
        are unpartitioned unless also added to PARTITION_SPEC."""
        self.spark = spark
        self.root = Path(root)
        self.root.mkdir(parents=True, exist_ok=True)
        self.tables = {**ALL_TABLES, **(extra_tables or {})}

    def path(self, name: str) -> Path:
        if name not in self.tables:
            raise KeyError(f"unknown table {name!r}")
        return self.root / name

    def exists(self, name: str) -> bool:
        return (self.path(name) / "_SUCCESS").exists()

    def init_tables(self) -> None:
        """Idempotent: create any missing table as an empty parquet
        dataset with its declared schema, committed from the driver
        (no Spark job)."""
        for name in self.tables:
            if not self.exists(name):
                self.write(name, to_arrow_schema(self.tables[name]).empty_table())

    def _writer(self, name: str, df: DataFrame):
        pcol = PARTITION_SPEC.get(name)
        w = df.write
        return w.partitionBy(pcol) if pcol else w

    def read(self, name: str) -> DataFrame:
        if not self.exists(name):
            # an empty LocalTableScan: reading it starts no Python worker
            return local_df(self.spark, [], self.tables[name])
        df = self.spark.read.schema(self.tables[name]).parquet(str(self.path(name)))
        # partition discovery may reorder columns; restore declared order
        return df.select(*[f.name for f in self.tables[name].fields])

    def read_arrow(self, name: str) -> pa.Table:
        """``name`` read on the driver as a pyarrow Table with its
        declared schema, whichever path wrote it; a missing table reads
        as an empty one. No Spark job — for driver-sized, unpartitioned
        control tables such as `status`."""
        import pyarrow.parquet as pq  # noqa: PLC0415

        if name in PARTITION_SPEC:
            raise ValueError(f"table {name!r} is partitioned: read it with read()")
        schema = to_arrow_schema(self.tables[name])
        if not self.exists(name):
            return schema.empty_table()
        return pq.read_table(self.path(name), schema=schema)

    def _commit(self, name: str, stage: Callable[[Path], None]) -> None:
        """Run ``stage(staging_dir)`` to write a full new copy of
        ``name``, then swap it in for the live table. A staging
        directory left by an interrupted write is cleared first."""
        target = self.path(name)
        staging = target.with_suffix(".staging")
        if staging.exists():
            shutil.rmtree(staging)
        stage(staging)
        if target.exists():
            shutil.rmtree(target)
        staging.rename(target)

    def write(self, name: str, data: DataFrame | pa.Table) -> None:
        """Full overwrite via staging dir (safe when ``data`` reads the
        target table). Schema-validated: a drifted ingest fails here,
        not at the next read, and before anything is staged.

        A DataFrame is written by a Spark job. A pyarrow Table is
        committed by the driver as one ``part-00000.snappy.parquet``
        plus ``_SUCCESS``, with no Spark job. A partitioned table takes
        only an empty Table, staged as ``_SUCCESS`` alone (the layout
        Spark writes for an empty partitioned frame)."""
        if not isinstance(data, pa.Table):
            df = validate_schema(data, self.tables[name], name)
            self._commit(
                name, lambda d: self._writer(name, df).mode("overwrite").parquet(str(d))
            )
            return
        tbl = validate_arrow(data, to_arrow_schema(self.tables[name]), name)
        partitioned = name in PARTITION_SPEC
        if partitioned and tbl.num_rows:
            raise ValueError(f"table {name!r} is partitioned: write its rows as a DataFrame")

        def stage(staging: Path) -> None:
            import pyarrow.parquet as pq  # noqa: PLC0415

            staging.mkdir(parents=True)
            if not partitioned:
                pq.write_table(tbl, staging / "part-00000.snappy.parquet", compression="snappy")
            (staging / "_SUCCESS").touch()

        self._commit(name, stage)

    def append(self, name: str, df: DataFrame) -> None:
        df = validate_schema(df, self.tables[name], name)
        self._writer(name, df).mode("append").parquet(str(self.path(name)))

    def upsert(self, name: str, updates: DataFrame, key: str | list[str]) -> None:
        pcol = PARTITION_SPEC.get(name)
        if pcol is not None and self.exists(name):
            self._merge_partitions(name, updates, key, pcol)
            return
        self.write(name, upsert(self.read(name), updates, key))

    def _merge_partitions(
        self, name: str, updates: DataFrame, key: str | list[str], pcol: str
    ) -> None:
        """Partition-level MERGE: merge only the partitions the updates
        touch, stage them, then swap just those partition directories.
        Untouched partitions are never read or rewritten — the parquet
        analogue of Delta's MERGE with partition pruning.

        A full-row upsert may MOVE a key across partitions (the
        partition column is an ordinary update field when it is not
        part of the key): the partitions CURRENTLY holding the updated
        keys must join the merged set, or the old row survives in its
        old directory and the key silently duplicates. The mapping is
        a key+pcol column-pruned scan semi-joined against the (small)
        update key set — the same move guard _partial_update_partitions
        enforces by ValueError, resolved here by actually merging the
        source partitions. A moved-out partition that ends up empty
        gets no staging directory from Spark, so its old directory is
        removed explicitly (old dirs are read from the touched slice's
        real file paths — never reconstructed from values, which would
        miss Spark's dir-name escaping)."""
        keys = [key] if isinstance(key, str) else list(key)
        upd_parts = updates.select(pcol)
        if pcol not in keys:
            upd_parts = upd_parts.unionByName(
                self.read(name)
                .select(*keys, pcol)
                .join(
                    F.broadcast(updates.select(*keys)), on=keys, how="left_semi"
                )
                .select(pcol)
            )
        touched = [r[0] for r in upd_parts.distinct().collect()]
        current = self._read_partitions(name, pcol, touched)
        if current is None:
            return
        old_dirs = {
            Path(r[0]).parent.name
            for r in current.select(F.input_file_name()).distinct().collect()
        }
        merged = upsert(current, updates, key)
        swapped = self._swap_partitions(name, merged)
        for stale_dir in old_dirs - swapped:
            shutil.rmtree(self.path(name) / stale_dir, ignore_errors=True)

    def _read_partitions(self, name: str, pcol: str, touched: list):
        """The touched-partition slice of ``name`` (None when nothing
        is touched). Null-safe: isin() never matches NULL, so a null
        partition value needs its own predicate."""
        if not touched:
            return None
        non_null = [v for v in touched if v is not None]
        cond = F.col(pcol).isin(non_null) if non_null else F.lit(False)
        if len(non_null) != len(touched):
            cond = cond | F.col(pcol).isNull()
        return self.read(name).filter(cond)

    def _swap_partitions(self, name: str, merged: DataFrame) -> set[str]:
        """Stage ``merged`` (touched partitions only), then swap just
        those partition directories into the live table; returns the
        swapped directory names. Swaps the partition dirs Spark
        actually wrote: their names carry Spark's own escaping
        (URL-escaped specials, __HIVE_DEFAULT_PARTITION__ for null),
        so reconstructing f"{pcol}={value}" by hand would miss any
        value needing escaping and silently drop the merged data."""
        merged = validate_schema(merged, self.tables[name], name)
        target = self.path(name)
        staging = target.with_suffix(".staging")
        self._writer(name, merged).mode("overwrite").parquet(str(staging))
        swapped: set[str] = set()
        for part_dir in sorted(staging.iterdir()):
            if not part_dir.is_dir():
                continue
            dest = target / part_dir.name
            if dest.exists():
                shutil.rmtree(dest)
            part_dir.rename(dest)
            swapped.add(part_dir.name)
        shutil.rmtree(staging)
        return swapped

    def partial_update(self, name: str, updates: DataFrame, key: str | list[str]) -> None:
        pcol = PARTITION_SPEC.get(name)
        if pcol is not None and self.exists(name):
            self._partial_update_partitions(name, updates, key, pcol)
            return
        self.write(name, partial_update(self.read(name), updates, key))

    def _partial_update_partitions(
        self, name: str, updates: DataFrame, key: str | list[str], pcol: str
    ) -> None:
        """Partition-pruned partial update (VERDICT r9 #5): only the
        partitions holding updated keys are read, merged, and swapped
        — a per-project enrichment sweep against a 100 TB `samples`
        table rewrites O(touched taxa), not O(warehouse). Safe only
        because rows cannot MOVE partitions: the partition column is
        either an update key (unchanged by definition) or absent from
        the update columns — enforced below."""
        keys = [key] if isinstance(key, str) else list(key)
        if pcol in updates.columns and pcol not in keys:
            raise ValueError(
                f"partial_update on {name!r} may not modify its "
                f"partition column {pcol!r} (rows would change "
                f"partition directories; use write() for a re-layout)"
            )
        if pcol in updates.columns:
            upd_parts = updates.select(pcol)
        else:
            # map update keys -> their current partitions: a key+pcol
            # column-pruned scan semi-joined against the (small) update
            # key set — never a full-width table read
            upd_parts = (
                self.read(name)
                .select(*keys, pcol)
                .join(F.broadcast(updates.select(*keys)), on=keys, how="left_semi")
                .select(pcol)
            )
        touched = [r[0] for r in upd_parts.distinct().collect()]
        current = self._read_partitions(name, pcol, touched)
        if current is None:
            return  # no known keys -> the reference's silently-no-op UPDATE
        merged = partial_update(current, updates, key)
        self._swap_partitions(name, merged)
