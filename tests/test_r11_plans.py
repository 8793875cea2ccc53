"""Round-11 plans: the sink round-trips (K1 insert, K3 accession
list, K4 processed sources, K5 tar archive) and the lakehouse sink
plans registered at round-12 start. Their oracle parity at sf0.1 and
the sinks' rerun idempotency are rows of the parity matrix in
tests/test_parity.py; this file pins the artifact and file-level
semantics a value-hash can't express."""

from __future__ import annotations

import tarfile

from compendium_spark.plans.registry import all_plans

from .conftest import SF_ORACLE
from .test_parity import _normalize


def test_accessions_eligibility_semantics(spark):
    """The accession list reflects every eligibility axis of ref
    projects.py:67-73: empty-srr, non-genomic source, non-amplicon
    strategy, and other-project rows are all excluded; the cross-sample
    duplicate run collapses to one line."""
    fn = all_plans()["sink_accessions_roundtrip"].fn
    got = sorted(fn(spark, SF_ORACLE).toPandas().srr)
    assert got == ["SRR9_1", "SRR9_2", "SRR9_3"]
    assert "SRR9_4" not in got  # SYNTHETIC source
    assert "SRR9_5" not in got  # WGS strategy
    assert "SRRX_1" not in got  # other project


def test_accessions_file_is_line_per_run(spark):
    """K3's artifact contract (ref projects.py:82-85): plain text, one
    accession per line, sorted, trailing newline."""
    fn = all_plans()["sink_accessions_roundtrip"].fn
    fn(spark, SF_ORACLE).collect()
    # _workdir wipes on entry, so this is the file the plan just wrote
    import os
    import tempfile
    from pathlib import Path

    path = (
        Path(tempfile.gettempdir())
        / f"compendium_spark_sinks_{os.getuid()}"
        / "accessions"
        / "accessions.txt"
    )
    assert path.read_text() == "SRR9_1\nSRR9_2\nSRR9_3\n"


def test_archive_members_rooted_and_complete(spark):
    """K5's artifact contract (ref projects.py:530-548): every staged
    file appears exactly once, rooted at the project name, nested dirs
    preserved; nothing else rides along."""
    import os
    import tempfile
    from pathlib import Path

    from compendium_spark.plans.sinks import ARCHIVE_FILES

    fn = all_plans()["sink_archive_roundtrip"].fn
    got = fn(spark, SF_ORACLE).toPandas()
    assert sorted(got.member) == sorted(f"PRJ9/{n}" for n in ARCHIVE_FILES)
    tgz = (
        Path(tempfile.gettempdir())
        / f"compendium_spark_sinks_{os.getuid()}"
        / "archive"
        / "archive"
        / "PRJ9.tar.gz"
    )
    with tarfile.open(tgz, "r:gz") as tf:
        names = [m.name for m in tf.getmembers() if m.isfile()]
    assert sorted(names) == sorted(got.member)


def test_sources_sink_matches_classifier_plan(spark):
    """K4's written artifact decodes to exactly the classifier plan's
    relation — the sink adds no rows, drops none, and the tab join is
    reversible for these sources."""
    import pandas as pd

    plans = all_plans()
    sink = _normalize(
        plans["sink_sources_roundtrip"].fn(spark, SF_ORACLE).toPandas()
    )
    direct = _normalize(
        plans["ing_sources_decisions"].fn(spark, SF_ORACLE).toPandas()
    )
    pd.testing.assert_frame_equal(sink, direct, check_exact=True)


# ---------------------------------------------------------------------------
# r11 on-deck lakehouse plans, registered at r12 start (VERDICT r11 #1)
# ---------------------------------------------------------------------------


def _reopen_vwh(spark, plan_workdir, **kw):
    import os
    import tempfile
    from pathlib import Path

    from compendium_spark.storage_versioned import VersionedWarehouse

    root = (
        Path(tempfile.gettempdir())
        / f"compendium_spark_sinks_{os.getuid()}"
        / plan_workdir
        / "vwh"
    )
    return VersionedWarehouse(spark, str(root), **kw)


def test_stats_scan_actually_skips_files(spark):
    """The hash parity above proves pruning loses no rows; this pins
    that it actually PRUNES — every probe's scan skips 2 of the 3
    single-file commits (the I/O the manifest stats save), except the
    IN probe which spans two files."""
    from compendium_spark.plans.sinks import (
        STATS_PROBES,
        _metrics_schema,
        sink_stats_pruned_scan,
    )

    sink_stats_pruned_scan(spark, SF_ORACLE).collect()
    vwh = _reopen_vwh(
        spark, "stats_scan", extra_tables={"metrics": _metrics_schema()}
    )
    expect_kept = {"range": 1, "eq_src": 1, "in_ids": 2}
    for label, where, _pred in STATS_PROBES:
        kept, skipped = vwh.scan_files("metrics", where=where)
        assert len(kept) == expect_kept[label], (label, kept)
        assert len(kept) + len(skipped) == 3


def test_compaction_plan_file_invariants(spark):
    """After the plan's compact commit: fragmented partitions are one
    file each, the single-file txidB partition is carried BY REFERENCE
    (path-identical to the pre-compaction manifest), and the old
    snapshot's file list is untouched."""
    from compendium_spark.plans.sinks import sink_compaction_roundtrip

    sink_compaction_roundtrip(spark, SF_ORACLE).collect()
    vwh = _reopen_vwh(spark, "compaction")
    pre = vwh.manifest("samples", 2)
    post = vwh.manifest("samples", 3)
    assert post["op"] == "compact"

    def by_part(man):
        out = {}
        for f in man["files"]:
            part = next(s for s in f.split("/") if "=" in s)
            out.setdefault(part, []).append(f)
        return out

    pre_by, post_by = by_part(pre), by_part(post)
    assert len(pre_by["taxon=txidA"]) == 3
    assert len(post_by["taxon=txidA"]) == 1
    assert len(post_by["taxon=__HIVE_DEFAULT_PARTITION__"]) == 1
    assert post_by["taxon=txidB"] == pre_by["taxon=txidB"]
