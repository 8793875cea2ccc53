"""Driver-side Arrow commits through `Warehouse.write` and the
driver-side reader `Warehouse.read_arrow`: the path the `status`
control table and the empty-table DDL take, with no Spark job."""

from __future__ import annotations

import pyarrow as pa
import pytest
from pyspark.sql.pandas.types import to_arrow_schema

from compendium_spark.operators.validate import SchemaMismatchError
from compendium_spark.schemas import SAMPLES, STATUS
from compendium_spark.storage import Warehouse

STATUS_ARROW = to_arrow_schema(STATUS)

ROWS = [
    dict(project="P1", status="running", rerun_as_single_end=0, paired=1,
         note1=None, note2=None),
    dict(project="P2", status="failed", rerun_as_single_end=1, paired=None,
         note1="bad", note2=None),
]


@pytest.fixture()
def wh(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path / "wh"))
    wh.init_tables()
    wh.write("status", pa.Table.from_pylist(ROWS, schema=STATUS_ARROW))
    return wh


def _status_rows(wh):
    return sorted(tuple(r) for r in wh.read("status").collect())


def test_arrow_commit_reads_back_through_both_readers(wh):
    assert wh.read_arrow("status").to_pylist() == ROWS
    assert _status_rows(wh) == sorted(tuple(r.values()) for r in ROWS)
    assert sorted(f.name for f in wh.path("status").iterdir()) == [
        "_SUCCESS", "part-00000.snappy.parquet",
    ]


@pytest.mark.parametrize(
    "bad",
    [
        # type drift: the flag as a string
        pa.table({
            "project": ["P3"], "status": ["running"], "rerun_as_single_end": ["0"],
            "paired": pa.array([None], pa.int32()), "note1": pa.array([None], pa.string()),
            "note2": pa.array([None], pa.string()),
        }),
        # a missing column
        pa.table({"project": ["P3"], "status": ["running"]}),
    ],
    ids=["type_drift", "missing_column"],
)
def test_arrow_commit_refuses_schema_drift_before_staging(wh, bad):
    before = _status_rows(wh)
    with pytest.raises(SchemaMismatchError):
        wh.write("status", bad)
    assert not wh.path("status").with_suffix(".staging").exists()
    assert _status_rows(wh) == before


@pytest.mark.parametrize("column", ["project", "status"])
def test_arrow_commit_refuses_null_in_non_nullable_column(wh, column):
    """pyarrow does not enforce nullable=False itself (from_pylist
    accepts the None); the commit refuses it before staging."""
    row = {**ROWS[0], column: None}
    bad = pa.Table.from_pylist([row], schema=STATUS_ARROW)
    before = _status_rows(wh)
    with pytest.raises(SchemaMismatchError, match=f"non-nullable columns \\['{column}'\\]"):
        wh.write("status", bad)
    assert not wh.path("status").with_suffix(".staging").exists()
    assert _status_rows(wh) == before
    assert wh.read_arrow("status").to_pylist() == ROWS


def test_leftover_staging_dir_does_not_break_the_next_commit(wh):
    """An interrupted write leaves `status.staging` behind (here with a
    stray parquet file); the next commit clears it instead of mixing
    its files into the table or failing on the rename."""
    staging = wh.path("status").with_suffix(".staging")
    staging.mkdir()
    (staging / "part-99999.snappy.parquet").write_bytes(b"not parquet")
    (staging / "_SUCCESS").touch()
    rows = ROWS[:1]
    wh.write("status", pa.Table.from_pylist(rows, schema=STATUS_ARROW))
    assert not staging.exists()
    assert wh.read_arrow("status").to_pylist() == rows
    assert _status_rows(wh) == [tuple(rows[0].values())]


def test_partitioned_table_takes_only_an_empty_arrow_table(wh):
    """Only the empty-table DDL commits a partitioned table from the
    driver; its rows, and reads of them, go through Spark."""
    row = dict.fromkeys(SAMPLES.names)
    row.update(srs="SRS1", taxon="tx")
    with pytest.raises(ValueError, match="partitioned"):
        wh.write("samples", pa.Table.from_pylist([row], schema=to_arrow_schema(SAMPLES)))
    assert not wh.path("samples").with_suffix(".staging").exists()
    assert sorted(f.name for f in wh.path("samples").iterdir()) == ["_SUCCESS"]
    with pytest.raises(ValueError, match="partitioned"):
        wh.read_arrow("samples")


def test_read_arrow_of_missing_table_is_empty(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path / "none"))
    got = wh.read_arrow("status")
    assert got.num_rows == 0 and got.schema == STATUS_ARROW
